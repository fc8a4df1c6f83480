"""Plan-fingerprint-aware driver-verification gate.

The driver hash-verifies a bounded SAMPLE of ``queries()`` per round,
sampling in dict order; ``__spark_entry__.queries()`` therefore sorts
not-yet-verified names first so the sample converges to full catalog
coverage. The blind spot: if "verified" meant *a green hash in ANY
past round*, a query whose PLAN was rewritten would keep its verified
status and sort to the back, so a rewrite could ship with no fresh
driver hash.

This module closes the hole by making "verified" mean *a green hash
for the CURRENT plan*:

- ``history/plan_fingerprints.json`` — written by every ``bench.py``
  run — maps each query to a normalized ANALYZED-plan fingerprint
  (+ builder source), i.e. the CURRENT plan identity.
- ``history/verified_fingerprints.json`` (maintained here) maps each
  query to the fingerprint it had when it last earned a green driver
  hash, plus ``synced_through`` = the newest CORRECTNESS round folded
  in.
- :func:`verified_names` drops any name whose current fingerprint
  differs from its verified fingerprint → it re-sorts to the front of
  ``queries()`` and the next driver sample re-hash-checks it.
- :func:`sync_verified_fingerprints` — called at the start of every
  ``bench.py`` run — folds any NEW ``CORRECTNESS_r*.json`` greens into
  the verified map, taking fingerprints from the pre-run
  ``plan_fingerprints.json`` (at that moment still the state the
  driver's round-end bench recorded on the very commit the driver
  verified). ``synced_through`` makes the sync idempotent: later bench
  runs in the same round see no newer correctness file and leave the
  map alone, so post-edit fingerprints can never masquerade as
  verified ones.

Conservative fallbacks (both sides must be KNOWN to invalidate): a
name missing from either map, or an SF mismatch between the maps,
keeps its legacy verified status — invalidation is an extra filter on
top of the green-row rule, never a mass re-queue. The residual
staleness window is one round: a plan edited and committed WITHOUT any
bench run keeps its old fingerprint until the driver's own round-end
bench refreshes the file, after which the mismatch re-queues it.

A name can be seeded with an explicit ``stale:`` sentinel (see
``history/verified_fingerprints.json``), which can never equal a real
fingerprint, so it re-queues in the next sample.

Bootstrap rule (ADVICE r08): when ``verified_fingerprints.json`` is
MISSING, only the NEWEST correctness round's greens may be stamped
with the current fingerprint — older rounds' greens were earned on
plans that may since have been rewritten, so they get a ``stale:``
sentinel and re-queue for a fresh driver hash. When the file EXISTS
but cannot be parsed, the sync fails loudly instead of silently
re-marking every historical green as current (which would reopen the
blind spot this module closes).

A fingerprint must be a function of the query alone: a builder that
names a managed table per session re-queues on every bench run, which
is why ``q_bucketed_colocated_join`` derives its table name from
content (plans/mllite.py).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

VERIFIED_FP = "history/verified_fingerprints.json"
CURRENT_FP = "history/plan_fingerprints.json"
_CORRECTNESS_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _load(path: Path) -> dict | None:
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    return data if isinstance(data, dict) else None


def correctness_rounds(repo: Path) -> dict[int, dict]:
    """{round_number: parsed CORRECTNESS json} for every readable file."""
    out: dict[int, dict] = {}
    for p in repo.glob("CORRECTNESS_r*.json"):
        m = _CORRECTNESS_RE.search(p.name)
        data = _load(p)
        if m and data is not None:
            out[int(m.group(1))] = data
    return out


def green_names(rounds: dict[int, dict]) -> set[str]:
    """Names with a green hash_match in any round. Rows-only and failed
    rows do NOT count: they stay unverified until they earn a green."""
    seen: set[str] = set()
    for data in rounds.values():
        for name, row in data.items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                seen.add(name)
    return seen


def verified_names(repo: Path) -> set[str]:
    """Names whose CURRENT plan has a green driver hash.

    green-row rule minus the fingerprint invalidation described in the
    module docstring.
    """
    greens = green_names(correctness_rounds(repo))
    verified = _load(repo / VERIFIED_FP)
    current = _load(repo / CURRENT_FP)
    if not verified or not current:
        return greens
    if verified.get("sf") != current.get("sf"):
        return greens
    vfp = verified.get("fingerprints", {})
    cfp = current.get("fingerprints", {})
    return {
        name
        for name in greens
        if name not in vfp
        or name not in cfp
        or vfp[name] == cfp[name]
    }


def sync_verified_fingerprints(repo: Path) -> dict:
    """Fold greens from any CORRECTNESS round newer than
    ``synced_through`` into the verified map, stamping each with its
    fingerprint from the CURRENT ``plan_fingerprints.json`` (call this
    BEFORE overwriting that file — i.e. at bench start). Returns the
    (possibly unchanged) verified map; writes only when it changed.
    """
    current = _load(repo / CURRENT_FP)
    if not current:
        return {}
    vpath = repo / VERIFIED_FP
    bootstrap = not vpath.exists()
    if bootstrap:
        verified: dict = {
            "sf": current.get("sf"),
            "synced_through": 0,
            "fingerprints": {},
        }
    else:
        verified = _load(vpath)
        if verified is None:
            # Existing-but-unparseable must NOT silently re-bootstrap:
            # that would stamp every historical green with the CURRENT
            # fingerprint, marking since-rewritten plans as verified
            # (ADVICE r08). A corrupt map needs a human decision.
            raise ValueError(
                f"{vpath} exists but is not parseable JSON — refusing to "
                "silently re-bootstrap the verified-fingerprint map; fix "
                "or delete the file explicitly."
            )
    if verified.get("sf") != current.get("sf"):
        return verified
    rounds = correctness_rounds(repo)
    new_rounds = sorted(
        r for r in rounds if r > int(verified.get("synced_through", 0))
    )
    if not new_rounds:
        return verified
    cfp = current.get("fingerprints", {})
    newest = max(new_rounds)
    for r in new_rounds:
        # Bootstrap can only vouch for the NEWEST round: the current
        # fingerprints describe today's plans, and only the newest
        # round's greens are known to have run against them. Older
        # greens get a sentinel (never equal to a real fingerprint) so
        # verified_names() re-queues them for a fresh driver hash.
        stamp_current = (not bootstrap) or r == newest
        for name, row in rounds[r].items():
            if (
                isinstance(row, dict)
                and row.get("hash_match") is True
                and name in cfp
            ):
                verified["fingerprints"][name] = (
                    cfp[name] if stamp_current else f"stale:r{r}"
                )
    verified["synced_through"] = newest
    vpath.parent.mkdir(exist_ok=True)
    vpath.write_text(json.dumps(verified, indent=1, sort_keys=True))
    return verified
