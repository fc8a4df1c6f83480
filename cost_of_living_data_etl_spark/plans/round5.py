"""Import path kept for ``perfbench/workloads.py``, which loads
``star_components`` from here. The loop lives in ``operators/dedup.py``;
delete this module once the benchmark imports it from there."""

from cost_of_living_data_etl_spark.operators.dedup import star_components  # noqa: F401
