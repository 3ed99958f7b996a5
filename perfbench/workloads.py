"""The benchmark's workloads: which queries run, in order, at which
input scale, and which input table set-up reads; and the tables each
scale's queries and oracles read, which is all ``datagen`` writes and
all the oracle opens."""

from __future__ import annotations

import os

WORKLOADS: dict[str, dict] = {
    "capex_pipeline": {
        "sf": "sf0.001",
        "queries": ["q90_capex_pipeline"],
        "table": "orders",
    },
    "extensions_mix": {
        "sf": "sf0.01",
        "queries": [
            "q99_pagerank",
            "q161_jaccard_join",
            "q80_unicode_normalize",
            "q231_scd2_fold_persisted",
        ],
        "table": "documents",
    },
}

TABLES: dict[str, list[str]] = {
    "sf0.001": ["nation", "orders", "region"],
    "sf0.01": ["documents", "events", "lineitem", "orders"],
}

#: where the state tables of a pass live, under the run's directory
STATE_DIR = "state"


def builders(state_dir: str) -> dict:
    """The registered builders, with the state-fold queries writing
    their state tables under ``state_dir``. The registered versions
    write to a fixed absolute path, which lies outside a checkout."""
    from capex_data_pipeline_spark.registry import QUERIES

    return {**QUERIES, "q231_scd2_fold_persisted": _q231(state_dir)}


def _q231(state_dir: str):
    def q231_scd2_fold_persisted(spark, sf_dir):
        """``registry_cleaning.q231_scd2_fold_persisted``: the end-of-day
        SCD2 dimension before the last day is written as a bucketed
        state table, and the last day's snapshot folds into it."""
        from pyspark.sql import functions as F

        from capex_data_pipeline_spark.extensions.cleaning import scd2_history
        from capex_data_pipeline_spark.extensions.state import (
            save_scd2_state,
            scd2_fold_persisted,
        )
        from capex_data_pipeline_spark.sources.parquet import read_table

        ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
        day = F.date_trunc("day", F.col("ts")).cast("date")
        snap_all = ev.groupBy(F.col("user_id"), day.alias("d")).agg(
            F.max_by("event_type", "event_id").alias("state")
        )
        last_day = snap_all.agg(F.max("d")).collect()[0][0]
        history = scd2_history(
            snap_all.filter(F.col("d") < F.lit(last_day)), "user_id", "d", ["state"]
        ).select("user_id", "state", "valid_from", "valid_to", "is_current")
        save_scd2_state(
            history, "user_id", "t_scd2_state_q231", n_buckets=8,
            path=os.path.join(state_dir, "t_scd2_state_q231"),
        )
        today = snap_all.filter(F.col("d") == F.lit(last_day)).select("user_id", "state")
        return scd2_fold_persisted(
            spark, "t_scd2_state_q231", today, "user_id", ["state"], last_day
        )

    return q231_scd2_fold_persisted
