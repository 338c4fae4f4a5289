"""Example 16 — Server-Sent Events: a live feed pushed to HTTP clients as
the read model updates.

Reference analog: `_examples/real-world-examples/server-sent-events/` — a
Twitter-like app: posts land in the write model (MySQL), a Watermill
handler projects them asynchronously into per-tag feeds (the read model,
MongoDB), and connected browsers receive SSE frames whenever a feed they
watch changes (README "How it works").

Port shape, same three tiers:
- WRITE MODEL: posts published to a SQLitePubSub topic (example 10 shows
  the transactional variant);
- PROJECTION: a Router handler explodes each post's tag array into one
  `feed_updates` message per (tag, post) — a vectorized DataFrame
  transform, partition-parallel at any scale;
- SSE GATEWAY: a plain HTTP server that TAILS the read-model table with
  its own raw sqlite cursor (no Spark on the serving edge) and pushes
  `event: post` frames to each connected client for the tag it watches.
  New posts appear in an open client connection without polling from the
  browser — that is the SSE contract.

Run:  python examples/16_server_sent_events.py
"""

from __future__ import annotations

import json
import sqlite3
import tempfile
import threading
import time
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from watermill_spark.message import messages_df, new_message, with_metadata
from watermill_spark.sources import GroupSubscriber, SQLitePubSub
from watermill_spark.streaming.middleware import recoverer
from watermill_spark.streaming.router import Router

POSTS = "posts"
FEED = "feed_updates"
FEED_TABLE = "watermill_feed_updates"


def _post(i: int, tags: list[str]):
    return new_message(json.dumps({"title": f"post #{i}", "tags": tags}))


def _sse_server(db_path: str):
    """The serving edge: tail the feed table, push frames per watched tag."""

    class SSE(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib naming)
            tag = self.path.rsplit("/", 1)[-1]
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            conn = sqlite3.connect(db_path)
            last, deadline = 0, time.time() + 20
            try:
                while time.time() < deadline:
                    rows = conn.execute(
                        f'SELECT "offset", payload, metadata FROM {FEED_TABLE}'
                        ' WHERE "offset" > ? ORDER BY "offset"',
                        (last,),
                    ).fetchall()
                    for off, payload, meta in rows:
                        last = off
                        if json.loads(meta).get("tag") != tag:
                            continue
                        frame = f"event: post\ndata: {payload.decode()}\n\n"
                        self.wfile.write(frame.encode())
                        self.wfile.flush()
                    time.sleep(0.05)
            except (BrokenPipeError, ConnectionResetError):
                pass  # client went away — normal SSE lifecycle
            finally:
                conn.close()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), SSE)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1]


def main(spark=None, base_dir: str | None = None) -> dict:
    if spark is None:
        from watermill_spark.session import get_spark

        spark = get_spark("example-sse")
    base_dir = base_dir or tempfile.mkdtemp(prefix="wm-example16-")
    db_path = f"{base_dir}/app.sqlite3"
    ps = SQLitePubSub(spark, db_path)

    # projection: one feed_updates message per (tag, post), tag in metadata
    def project_feeds(df):
        src = F.col("payload").cast("string")
        tags = F.from_json(F.get_json_object(src, "$.tags"), ArrayType(StringType()))
        return (
            with_metadata(df.withColumn("tag", F.explode(tags)), tag=F.col("tag"))
            .withColumn("uuid", F.expr("uuid()"))  # one message per (tag, post)
            .drop("tag")
        )

    router = Router()
    router.add_middleware(recoverer())
    router.add_handler(
        "feed-projector",
        POSTS, GroupSubscriber(ps, "projector"),
        FEED, ps,
        project_feeds,
    )

    # 1. backlog: three posts, two tagged "spark"
    ps.publish(POSTS, messages_df(spark, [
        _post(0, ["spark", "news"]), _post(1, ["spark"]), _post(2, ["golang"]),
    ]))
    router.run_once()
    ps.subscribe_initialize(FEED)  # table exists even before first update

    # 2. a client opens the spark feed and keeps the connection open
    srv, port = _sse_server(db_path)
    received: list[dict] = []

    def client():
        resp = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/feed/spark", timeout=20
        )
        for raw in resp:
            line = raw.decode().strip()
            if line.startswith("data: "):
                received.append(json.loads(line[6:]))
                if len(received) >= 4:
                    resp.close()
                    return

    t = threading.Thread(target=client, daemon=True)
    t.start()
    for _ in range(100):  # backlog frames arrive through the open connection
        if len(received) >= 2:
            break
        time.sleep(0.1)
    backlog_frames = len(received)

    # 3. new posts while the client stays connected — pushed, not polled
    ps.publish(POSTS, messages_df(spark, [
        _post(3, ["spark", "release"]), _post(4, ["news"]), _post(5, ["spark"]),
    ]))
    router.run_once()
    t.join(timeout=20)
    srv.shutdown()

    out = {
        "backlog_frames": backlog_frames,
        "total_frames": len(received),
        "titles": sorted(p["title"] for p in received),
    }
    print(json.dumps(out, indent=2))
    return out


if __name__ == "__main__":
    main()
