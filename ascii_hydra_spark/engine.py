"""HydraEngine — the engine's front door.

The reference's user story is: write one business-logic script
(`execute_business_logic(context, mode, partition_key, spark, engine)`,
reference: orchestration/pipes/spark_script_abc.py:116-118) and run it
unchanged against a local sample or the full dataset. This facade gives a
reference user the same experience on this engine, minus the cloud
plumbing:

    eng = HydraEngine.local(sf_dir)          # or .for_mode(ExecutionMode.FULL, roots)
    df  = eng.table("lineitem")              # catalog-resolved DataFrame
    out = eng.sql("SELECT ... FROM lineitem JOIN orders ...")
    eng.materialize(out, "revenue_by_nation", partition_by=("r_name",))

`sql()` resolves names through the engine catalog (views registered
lazily), so query text is identical across execution modes; `analyze()`
upgrades the views to stat-bearing external tables for CBO.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ascii_hydra_spark.catalog import TABLES, Catalog
from ascii_hydra_spark.plans import write_counted
from ascii_hydra_spark.session import ExecutionMode, SessionProfile, build_spark
# materialize writes through plans.write_counted; this name stays importable
# because perfbench/run.py wraps it to trace sink writes
from ascii_hydra_spark.sources import write_parquet  # noqa: F401


@dataclass
class HydraEngine:
    spark: SparkSession
    catalog: Catalog
    output_root: str = "/tmp/ascii_hydra_out"
    _views_registered: bool = field(default=False, repr=False)

    # ------------------------------------------------------------ builders

    @classmethod
    def local(
        cls,
        sf_dir: str | None = None,
        profile: SessionProfile | None = None,
        output_root: str = "/tmp/ascii_hydra_out",
    ) -> "HydraEngine":
        """Engine over one local fixture directory (dev-sample mode)."""
        return cls(
            spark=build_spark(profile or SessionProfile.dev()),
            catalog=Catalog.for_dir(sf_dir),
            output_root=output_root,
        )

    @classmethod
    def for_mode(
        cls,
        mode: ExecutionMode,
        roots: dict[ExecutionMode, str],
        profile: SessionProfile | None = None,
        output_root: str = "/tmp/ascii_hydra_out",
    ) -> "HydraEngine":
        """Engine with per-mode dataset roots — the same query text runs
        against dev samples or the full dataset by flipping `mode`
        (reference ExecutionMode semantics, SURVEY §1.1)."""
        default = SessionProfile.full() if mode is ExecutionMode.FULL else SessionProfile.dev()
        return cls(
            spark=build_spark(profile or default),
            catalog=Catalog(roots=roots, mode=mode),
            output_root=output_root,
        )

    # ------------------------------------------------------------ queries

    def table(self, name: str) -> DataFrame:
        return self.catalog.load(self.spark, name)

    def sql(self, query: str) -> DataFrame:
        """Run SQL against catalog-resolved table names."""
        if not self._views_registered:
            self.catalog.register_views(self.spark)
            self._views_registered = True
        return self.spark.sql(query)

    def analyze(self, names: tuple[str, ...] = TABLES) -> None:
        """Upgrade views to stat-bearing external tables (CBO input)."""
        self.catalog.analyze(self.spark, names)
        self._views_registered = True  # analyze registers the names itself

    # ------------------------------------------------------------ sinks

    def materialize(
        self,
        df: DataFrame,
        name: str,
        partition_by: tuple[str, ...] = (),
    ) -> dict:
        """Write a result as a named parquet dataset + run report (A21);
        `row_count` is the rows written, as in `Pipeline.run`."""
        path = f"{self.output_root}/{name}"
        _, row_count = write_counted(df, path, partition_by)
        self.catalog.overrides[name] = path
        return {"asset": name, "path": path, "row_count": row_count}
