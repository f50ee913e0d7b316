"""Pipeline orchestration (reference O1-O3).

The reference chains 8 Airflow tasks that hand state to each other
only via storage paths (/root/reference/dag.py:164; no XCom).  Here a
pipeline is ordered stages inside ONE SparkSession: each stage is
DataFrame -> DataFrame, so intermediate layer writes become optional
checkpoints instead of mandatory hops, and audit hooks ride along via
``df.observe`` instead of re-scanning: an audited run of N stages is
one Spark action, not N.

The reference's full DAG re-expressed (see
tests/test_reference_pipeline.py for the executable version):

    Pipeline("dados_publicos", [
        Stage("raw->trusted",  clean_cnae),
        Stage("trusted",       checkpoint(csv: sep='|', bom=True)),
        Stage("refined",       checkpoint(parquet)),
        Stage("warehouse",     save_warehouse_table),
    ])
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from dados_publicos_etl_spark.audit import observe_counts


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class StageRun:
    stage: str
    rows: int


@dataclass
class Pipeline:
    """Ordered DataFrame->DataFrame stages with per-stage audit.

    Unlike the reference (one Airflow task per step, each re-reading
    storage), stages pass DataFrames directly; Catalyst fuses
    adjacent narrow stages into one physical plan, and the observe-
    based audit costs no extra scan.
    """

    name: str
    stages: list[Stage] = field(default_factory=list)

    def add(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        self.stages.append(Stage(name, fn))
        return self

    def run(self, df: DataFrame) -> tuple[DataFrame, list[StageRun]]:
        """Apply stages in order; audit rows-through per stage.

        Each stage's output carries its own ``Observation``, and the
        next stage is applied on top of it, so ONE ``noop`` write
        flows every row through every stage once and fills all the
        counts.  Returns the last stage's (observed) DataFrame; use
        :func:`run_stages` instead when you want no audit and no
        action at all (the scale-default).
        """
        cur, observed = df, []
        # the stage index keeps metric names unique within the one plan
        # even when two stages share a name
        for i, st in enumerate(self.stages):
            cur, obs = observe_counts(
                st.fn(cur), f"{self.name}.{i}.{st.name}")
            observed.append((st.name, obs))
        # cheapest possible action that still flows every row through
        # every observation
        cur.write.format("noop").mode("overwrite").save()
        runs = [StageRun(n, int(obs.get["qtd_rows"])) for n, obs in observed]
        return cur, runs


def run_stages(df: DataFrame, *fns: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Fused (no-audit) composition: one Catalyst plan, zero extra
    actions — the scale-default."""
    for fn in fns:
        df = fn(df)
    return df
