"""Example 18 — IO/file transport quickstart ("your first app" over files).

The port's answer to `_examples/basic/1-your-first-app` wired over the
watermill-io analog: topics are plain NDJSON files, so ANY process that can
append a line is a producer and any process that can read a file is a
consumer. The flow:

1. a "foreign" shell producer (here: plain ``open(...).write``) appends raw
   wire lines to the topic file — no library on the producing side;
2. ``FilePubSub`` subscribes (distributed Spark text scan + JVM from_json),
   a Router handler enriches each message, and publishes to an out topic —
   which is again just an NDJSON file;
3. ``wc -l``-style line counting on the out file shows the interop holds in
   both directions, and an ``IOSubscriber`` over the open file handle reads
   the same messages through the pipe-shaped API.

Run:  python examples/18_io_quickstart.py
"""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

from watermill_spark.message import messages_df, new_message, with_metadata
from watermill_spark.sources import FilePubSub, IOSubscriber
from watermill_spark.streaming import Router


def main(spark=None, base_dir: str | None = None) -> dict:
    if spark is None:
        from watermill_spark.session import get_spark

        spark = get_spark("example-io-quickstart")
    base = Path(base_dir or tempfile.mkdtemp(prefix="wm-example18-"))
    ps = FilePubSub(spark, str(base))

    # 1. library-side publish AND a foreign producer appending raw lines
    ps.publish("clicks", messages_df(
        spark, [new_message(f"user-{i}", metadata={"src": "app"}) for i in range(3)]
    ))
    with open(base / "clicks.ndjson", "a", encoding="utf-8") as f:
        for i in range(2):
            f.write(json.dumps({
                "uuid": f"shell-{i}",
                "topic": "clicks",
                "metadata": {"src": "shell"},
                "payload_b64": "Y2xpY2s=",  # "click"
            }) + "\n")

    # 2. route: stamp a processed marker, publish to the out topic file
    router = Router()
    router.add_handler(
        "enrich", "clicks", ps, "clicks-enriched", ps,
        lambda df: with_metadata(df, state="enriched"),
    )
    router.run_once()

    # 3. both consumption styles see the same five messages
    out_file = base / "clicks-enriched.ndjson"
    line_count = sum(1 for _ in open(out_file, encoding="utf-8"))
    with open(out_file, encoding="utf-8") as fh:
        via_io = IOSubscriber(spark, fh, close_reader=False) \
            .subscribe("clicks-enriched").count()
    rows = ps.subscribe("clicks-enriched").collect()
    return {
        "enriched": len(rows),
        "ndjson_lines": line_count,
        "via_io_subscriber": via_io,
        "shell_produced": sum(
            1 for r in rows if dict(r["metadata"]).get("src") == "shell"
        ),
    }


if __name__ == "__main__":
    out = main()
    print(json.dumps(out, indent=2))
