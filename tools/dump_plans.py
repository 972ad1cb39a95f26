"""Regenerate the physical-plan trees quoted in PLANS.md.

Usage: python tools/dump_plans.py [sf_dir]  (default /root/testdata/sf0.1)
Prints the formatted plan of each headline shape; paste the trees into
PLANS.md when a plan legitimately changes (the plan-shape tests in
tests/test_plan_shapes.py decide what counts as a regression). Last it
prints the executed write plan of a synthetic two-epoch tx_table upsert
(``tx_upsert_write``), the commit the atomic streaming sinks run.
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, ".")

from real_time_event_streaming_pipeline_spark.plans import all_queries  # noqa: E402
from real_time_event_streaming_pipeline_spark.session import get_spark  # noqa: E402

SHAPES = [
    "rel_pricing_summary",
    "rel_shipping_priority",
    "cs_sliding_agg",
    "rel_nation_profit",
    "llm_dedup_ngram_jaccard",
    "llm_emb_cosine_topk",
    "cs_alert_followups",
    "llm_tfidf",
    "llm_semdedup",
    "llm_dup_span_removal",
    "llm_bpe_encode",
]


def tx_upsert_write_plan(spark) -> str:
    """The executed (post-AQE) plan of the second epoch's data-file write
    in a synthetic two-epoch upsert: epoch 0 fills all 64 buckets with
    20,000 keys, epoch 1 upserts 25 keys (about 20 buckets), the shape
    of one atomic streaming sink commit. Read from Spark's SQL status
    store, which records every execution's final plan."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_pipeline_spark.streaming import tx_table

    def batch(n, epoch):
        return spark.range(n).select(
            (F.col("id") * 7).cast("string").alias("k"), F.lit(epoch).alias("v")
        )

    with tempfile.TemporaryDirectory() as tmp:
        for epoch, n in enumerate([20_000, 25]):
            tx_table.upsert(spark, tmp, batch(n, epoch), ["k"], n_buckets=64,
                            order_col="v", epoch_id=epoch)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.size() - 1, -1, -1):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc:
            return desc
    raise RuntimeError("no file-writing execution recorded")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    qs = all_queries()
    for name in SHAPES:
        df = qs[name](spark, sf_dir)
        print(f"##### {name} #####")
        print(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
    print("##### tx_upsert_write #####")
    print(tx_upsert_write_plan(spark))


if __name__ == "__main__":
    main()
