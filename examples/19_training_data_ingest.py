"""Example 19 — streaming training-data ingest gate (quality + near-dup).

What a 100-TB LLM-data pipeline runs at the front door, as one Router
pipeline over the transport:

1. raw documents arrive as messages on ``docs_raw`` (payload = utf-8
   text);
2. a **quality gate** handler (pure JVM column expressions — the same
   length / alpha-ratio / token heuristics as `analytics/text.py`) routes
   each doc to ``docs_quality`` or stamps a reject reason onto
   ``docs_lowq``;
3. the survivors stream through the **near-duplicate filter**
   (`streaming/dedup.py` — MinHash-LSH with a persistent bucket
   registry): first-seen docs land on ``docs_clean``, near-dups on
   ``docs_dup`` with a ``DUP_OF`` metadata stamp naming the admitted doc
   that blocked them.

Everything is micro-batched, checkpointed, and idempotent per batch, so
a crash anywhere replays without double-admitting. The same wiring
scales to a real cluster by swapping ParquetPubSub for the Kafka/Delta
transport — the filter's registry is already a table, not driver state.

Run:  python examples/19_training_data_ingest.py
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from watermill_spark.message import messages_df, new_message, with_metadata
from watermill_spark.sources import ParquetPubSub
from watermill_spark.streaming import Router
from watermill_spark.streaming.dedup import DUP_OF, StreamingNearDupFilter

MIN_CHARS = 20
MIN_ALPHA_RATIO = 0.55


def main(spark=None, base_dir: str | None = None, sf_dir: str = "/root/testdata/sf0.001") -> dict:
    if spark is None:
        from watermill_spark.session import get_spark

        spark = get_spark("example-training-ingest")
    base = base_dir or tempfile.mkdtemp(prefix="wm-example19-")
    ps = ParquetPubSub(spark, os.path.join(base, "topics"))

    # 1. raw arrivals: real corpus docs plus some deliberate junk
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(60)
        .collect()
    )
    msgs = [
        new_message(r.text, metadata={"doc_id": str(r.doc_id)}, uuid=f"d{r.doc_id}")
        for r in docs
    ] + [
        new_message("x", metadata={"doc_id": "900001"}, uuid="d900001"),  # too short
        new_message("!!! ??? ### $$$ %%% &&& ***", metadata={"doc_id": "900002"},
                    uuid="d900002"),  # symbol soup
    ]
    ps.publish("docs_raw", messages_df(spark, msgs))

    # 2. quality gate: JVM expressions only, split to pass/reject topics
    text = F.decode(F.coalesce(F.col("payload"), F.lit(b"")), "utf-8")
    alpha_ratio = (
        F.length(F.regexp_replace(text, r"[^a-zA-Z ]", "")) /
        F.greatest(F.length(text), F.lit(1))
    )
    reason = (
        F.when(F.length(text) < MIN_CHARS, F.lit("too_short"))
        .when(alpha_ratio < MIN_ALPHA_RATIO, F.lit("low_alpha_ratio"))
    )
    router = Router()
    router.add_handler(
        "quality_pass", "docs_raw", ps, "docs_quality", ps,
        lambda df: df.filter(reason.isNull()),
    )
    router.add_handler(
        "quality_reject", "docs_raw", ps, "docs_lowq", ps,
        lambda df: with_metadata(df.filter(reason.isNotNull()), reject_reason=reason),
    )
    router.run_once()

    # 3. near-dup filter between docs_quality and docs_clean/docs_dup
    ndf = StreamingNearDupFilter(spark, os.path.join(base, "registry"))
    q = ndf.attach(ps, "docs_quality", "docs_clean", "docs_dup",
                   os.path.join(base, "ck"))
    q.awaitTermination(300)

    clean = ps.subscribe("docs_clean")
    dup = ps.subscribe("docs_dup")
    lowq = ps.subscribe("docs_lowq")
    return {
        "raw": len(msgs),
        "low_quality": {
            dict(r.metadata)["reject_reason"]: 1 for r in lowq.collect()
        },
        "clean": clean.count(),
        "near_dups": dup.count(),
        "sample_dup_of": sorted(
            int(dict(r.metadata)[DUP_OF]) for r in dup.limit(3).collect()
        )[:1],
        "registry_rows": ndf.registry().count(),
    }


if __name__ == "__main__":
    print(json.dumps(main(), indent=2, default=int))
