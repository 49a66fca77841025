"""Top-level facade: the one object a user of the reference system needs.

The reference's public surface is: ingest capture files, run five named
analytics, serve queued aggregation requests, export CSV (process.py
__main__ loop). ``KomodoEngine`` packages the same lifecycle over Spark,
plus the extension surface (named queries from the driver registry and
plain SQL over registered views).

Typical use::

    eng = KomodoEngine.local()                  # or KomodoEngine(spark)
    eng.register_tables("/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem")     # ANSI SQL entry point
    eng.query("dedup_minhash_lsh")               # any registered operator
    eng.ingest_captures(ctl_df, capture_dir, data_path)   # reference loop
    eng.serve_requests(requests_df, data_df, out_dir)     # request queue
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from komodo_data_spark.session import configure, default_cores, get_spark
from komodo_data_spark.sources.tables import TABLE_NAMES, load_events, load_table


class KomodoEngine:
    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = configure(spark)
        self.sf_dir = sf_dir
        if sf_dir:
            self.register_tables(sf_dir)

    @classmethod
    def local(
        cls, cores: int | None = None, sf_dir: str | None = None
    ) -> "KomodoEngine":
        """A local[cores] engine, ``cores`` defaulting to
        ``session.default_cores()``."""
        cores = cores or default_cores()
        return cls(
            get_spark(
                "komodo-engine",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
            ),
            sf_dir,
        )

    # -- catalog ----------------------------------------------------------
    def register_tables(self, sf_dir: str) -> None:
        """Expose every testdata table as a temp view (plus ``events`` with
        its derived ts columns) so plain ``sql()`` works."""
        self.sf_dir = sf_dir
        for name in TABLE_NAMES:
            load_table(self.spark, sf_dir, name).createOrReplaceTempView(name)
        load_events(self.spark, sf_dir).createOrReplaceTempView("events_ts")

    def table(self, name: str) -> DataFrame:
        if self.sf_dir is None:
            raise ValueError("register_tables(sf_dir) first")
        return load_table(self.spark, self.sf_dir, name)

    #: SQL macros registered by :meth:`register_macros` — declarative SQL
    #: UDFs (Spark 4 ``CREATE FUNCTION ... RETURN expr``), NOT Python UDFs:
    #: the body inlines into the calling plan at analysis time, so calls
    #: stay inside whole-stage codegen and Catalyst can push/prune through
    #: them. ``revenue``/``ms_to_hour``/``norm_tokens`` mirror the
    #: expressions the reference in-lines everywhere (reference
    #: process.py's energy/copresence SQL rebuilds these by hand per query).
    _MACROS: tuple[str, ...] = (
        "CREATE OR REPLACE TEMPORARY FUNCTION revenue(price DOUBLE, disc DOUBLE)"
        " RETURNS DOUBLE RETURN price * (1 - disc)",
        "CREATE OR REPLACE TEMPORARY FUNCTION ms_to_hour(ts_ms BIGINT)"
        " RETURNS BIGINT RETURN ts_ms div 3600000",
        "CREATE OR REPLACE TEMPORARY FUNCTION norm_tokens(text STRING)"
        " RETURNS ARRAY<STRING> RETURN split(trim(lower(text)), '\\\\s+')",
        # table-valued macro over a registered view
        "CREATE OR REPLACE TEMPORARY FUNCTION events_of_type(t STRING)"
        " RETURNS TABLE(event_id BIGINT, user_id BIGINT, value DOUBLE)"
        " RETURN SELECT event_id, user_id, value"
        " FROM events_ts WHERE event_type = t",
    )

    def register_macros(self) -> list[str]:
        """Install the SQL macro library; returns the registered names."""
        for ddl in self._MACROS:
            self.spark.sql(ddl)
        return [ddl.split("FUNCTION ")[1].split("(")[0] for ddl in self._MACROS]

    # -- query entry points -----------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def query(self, name: str) -> DataFrame:
        """Run any registered operator by name."""
        if self.sf_dir is None:
            raise ValueError("register_tables(sf_dir) first")
        from komodo_data_spark.registry import registered

        reg = registered()
        if name not in reg:
            raise KeyError(
                f"unknown query {name!r}; available: {sorted(reg)}"
            )
        return reg[name][0](self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        from komodo_data_spark.registry import registered

        return sorted(registered())

    # -- observability ----------------------------------------------------
    def explain_query(self, name: str) -> dict:
        """Execute a registered query and return its final-plan stats
        (shuffles, broadcast vs sort-merge joins, codegen spans, Python
        stages, scan pushdown) — the numbers to check before promoting a
        query to a 100 TB run. See plans/audit.py."""
        from komodo_data_spark.plans.audit import (
            executed_plan_string,
            plan_stats,
        )

        return plan_stats(executed_plan_string(self.query(name)))


    def run_observed(
        self, name: str, metrics: dict[str, "F.Column"] | None = None
    ) -> tuple[list, dict]:
        """Run a registered query and collect per-run metrics from the SAME
        pass over the data (``DataFrame.observe`` — aggregates piggyback on
        the action; no second scan). Default metrics: row count. Returns
        (rows, metrics_dict). This is the data-quality hook a production
        pipeline wires into every scheduled run: assert row counts, null
        budgets, or value invariants without re-reading 100 TB.
        """
        from pyspark.sql import functions as F
        from pyspark.sql import Observation

        df = self.query(name)
        metrics = metrics or {"n_rows": F.count(F.lit(1))}
        obs = Observation(f"obs_{name}")
        observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
        rows = observed.collect()
        return rows, obs.get

    # -- reference lifecycle ----------------------------------------------
    def ingest_captures(
        self, captures: DataFrame, captures_dir: str, data_table_path: str
    ) -> list[tuple[str, bool, int]]:
        """One poll iteration of the reference ingest loop (process.py
        __main__): returns [(capture_id, ok, processed_stamp)]."""
        from komodo_data_spark.sources.capture import ingest_ready_captures

        return ingest_ready_captures(
            self.spark, captures, captures_dir, data_table_path
        )

    def serve_requests(
        self, requests: DataFrame, data: DataFrame, out_dir: str, **kw
    ) -> list[tuple[int, str, str]]:
        """Serve pending aggregation requests (process.py:320-366)."""
        from komodo_data_spark.streaming.dispatch import (
            aggregation_file_download,
        )

        return aggregation_file_download(
            self.spark, requests, data, out_dir, **kw
        )

    # -- training-data last mile ------------------------------------------
    def export_corpus(
        self,
        path: str,
        n_shards: int = 8,
        splits: tuple[str, ...] = ("train", "val", "test"),
    ) -> dict[str, dict]:
        """Run the full preparation pipeline (quality gate -> decontamination
        -> dedup -> split assignment) and export each split as hash-assigned
        training shards with an audited manifest under ``path/<split>``.
        Returns {split: manifest}. The loader side re-audits with
        ``sources.export.verify_export`` before training."""
        if self.sf_dir is None:
            raise ValueError("register_tables(sf_dir) first")
        import os

        from pyspark.sql import functions as F

        from komodo_data_spark.operators.corpus import corpus_prepare_docs
        from komodo_data_spark.sources.export import export_training_shards

        docs = corpus_prepare_docs(self.spark, self.sf_dir).localCheckpoint(
            eager=True
        )
        return {
            split: export_training_shards(
                docs.filter(F.col("split") == split).drop("split"),
                os.path.join(path, split),
                n_shards=n_shards,
                token_col="n_tokens",
            )
            for split in splits
        }
