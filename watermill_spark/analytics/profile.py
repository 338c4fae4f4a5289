"""Per-query profiling and formatted-plan auditing of the registered queries.

    python -m watermill_spark.analytics.profile run SF_DIR [--budget S] [--runs N]
        [--shard K M] [--resume FILE] [filter ...]
    python -m watermill_spark.analytics.profile plans SF_DIR OUT_DIR [name ...]
    python -m watermill_spark.analytics.profile report FILE

``run`` prints one JSON record per query whose name contains a filter (all
by default): ``{name, status, build_s, exec_s, wall_s, jobs_build,
jobs_exec, quarantined}``. The build covers the query function, including
the jobs eager checkpoints run before any action; the exec is a ``noop``
write, which computes every column (``.count()`` would let Catalyst prune
the work). Job counts come from the status tracker, which works with the UI
off. Past ``--budget`` seconds a run's job groups are cancelled and it is
recorded ``OVER_BUDGET``; the exit code is 1 if any non-quarantined query
is not ``ok``. With ``--runs N`` the record is the median run by wall time.

``plans`` writes ``OUT_DIR/<name>.txt`` (the formatted plan) per query and
one ``OUT_DIR/plans.json`` with red-flag operator counts, base tables scanned
more than once, hinted-broadcast flags and single-partition flags; the
detectors are the ones ``tests/test_plan_audit.py`` audits every query with.
``report`` summarizes a ``run`` file (or an older sweep file).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time
import traceback
from collections import Counter

from pyspark.sql import DataFrame

from watermill_spark.analytics.registry import REGISTRY
from watermill_spark.session import get_spark

# -- formatted-plan parsing ---------------------------------------------------

# Red-flag operators, counted on the detail-section headers: exactly one
# "(<id>) <Op>" line per physical operator instance (the tree section puts
# the id *after* the name, so it never double-counts).
FLAG_PATTERNS = {
    "CARTESIAN": re.compile(r"\(\d+\) CartesianProduct"),
    "BNLJ": re.compile(r"\(\d+\) BroadcastNestedLoopJoin"),
    "SMJ": re.compile(r"\(\d+\) SortMergeJoin"),
}

# Base tables whose row count scales with the corpus (all but region/nation).
FACT_TABLES = frozenset({"lineitem", "orders", "events", "documents", "embeddings",
                         "customer", "supplier", "part", "partsupp"})

_TREE_LINE = re.compile(r"^([ :+\-*]*)(\S.*?) \((\d+)\)\s*$")
_DETAIL_HEAD = re.compile(r"^\((\d+)\) (\S.*?)(?: \[codegen id : \d+\])?$")
_SCAN_TABLE = re.compile(r"/([a-z_0-9]+)\.parquet")
# A scan's path appears once per scan node, in its detail block.
_LOCATION = re.compile(r"Location: \w*FileIndex \[[^\]\n]*?([a-z_0-9]+)\.parquet")
_BOUNDING_NAMES = ("GlobalLimit", "LocalLimit", "CollectLimit", "TakeOrderedAndProject",
                   "WindowGroupLimit")

# Aggregate keys that look like per-entity identifiers: an aggregate keyed by
# one of these over a fact table has data-scaled output cardinality
# (|customers|, |parts|, |docs| ... rows), NOT a bounded grid.
# nationkey/regionkey are excluded: they end in 'key' but name the two
# fixed-size dims (25/5 values), so a per-nation rollup is a bounded grid.
_ENTITY_KEY = re.compile(
    r"(?<!nation)(?<!region)(?:key|id|uuid|qid|nid)\d*$", re.IGNORECASE
)

# Aggregate keys that name a VOCABULARY class: token/term/shingle/n-gram/band
# aggregates over a fact corpus are data-scaled too (|vocabulary| follows
# Heaps' law plus junk strings; shingle/band key domains grow even faster).
_TOKEN_KEY = re.compile(
    r"(?:^|_)(?:term|token|tok|word|shingle|[a-z]*gram|band_key|sig|"
    r"minhash|hash)s?\d*$",
    re.IGNORECASE,
)


def formatted_plan(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def flag_counts(plan: str) -> dict[str, int]:
    """Occurrences of each ``FLAG_PATTERNS`` operator in a formatted plan."""
    return {f: len(p.findall(plan)) for f, p in FLAG_PATTERNS.items()}


def scan_counts(plan: str) -> dict[str, int]:
    """Parquet scan nodes per base table in a formatted plan."""
    return dict(Counter(_LOCATION.findall(plan)))


def _details(plan: str) -> dict[int, tuple[str, str]]:
    """Detail blocks of a formatted plan: node id -> (name, body)."""
    out: dict[int, tuple[str, str]] = {}
    cur_id, cur_name, body = None, None, []
    for line in plan.splitlines():
        m = _DETAIL_HEAD.match(line)
        if m:
            if cur_id is not None:
                out[cur_id] = (cur_name, "\n".join(body))
            cur_id, cur_name, body = int(m.group(1)), m.group(2), []
        elif cur_id is not None:
            body.append(line)
    if cur_id is not None:
        out[cur_id] = (cur_name, "\n".join(body))
    return out


def _trees(plan: str) -> list[list[tuple[int, str, int]]]:
    """Runs of consecutive tree lines (main plan + each subquery), each a
    list of (depth, name, node id)."""
    trees, tree = [], []
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if m:
            tree.append((len(m.group(1)), m.group(2).lstrip("* "), int(m.group(3))))
        elif tree:
            trees.append(tree)
            tree = []
    if tree:
        trees.append(tree)
    return trees


def _is_bounding(det: tuple[str, str] | None, name: str) -> bool:
    """Does this node bound its output cardinality independently of the
    corpus size: a top-k, a 1-row aggregate, a grid-keyed aggregate, or a
    literal bound on a dense unique id?"""
    body = det[1] if det else ""
    if name.startswith(_BOUNDING_NAMES):
        return True
    if "Aggregate" in name:
        if re.search(r"Keys \[0\]|^Keys: \[\]", body, re.M):
            return True  # 1-row global aggregate
        km = re.search(r"Keys \[\d+\]: \[(.*?)\]", body, re.S)
        if km:
            keys = []
            for part in km.group(1).split(","):
                # the last identifier before the '#<exprid>' suffix
                m = re.search(r"([A-Za-z_][A-Za-z_0-9]*)#\d+", part)
                keys.append(m.group(1) if m else part.strip())
            if not any(_ENTITY_KEY.search(k) or _TOKEN_KEY.search(k) for k in keys):
                return True  # grid/type/date-keyed: corpus-independent
    # the similarity family's query-set idiom: vec_id < N_QUERIES (a literal
    # bound on a dense unique id = fixed row count, however large the corpus)
    return name.startswith("Filter") and bool(
        re.search(r"Condition.*vec_id#\d+L? (?:<|<=|=) \d+", body)
    )


def _unbounded_fact_subtrees(plan: str, head) -> list[tuple[int, list[str]]]:
    """(node id, fact tables) for every node accepted by ``head(name, body)``
    whose subtree scans a fact-class table and holds no bounding node.

    The bounding check is subtree-granular, not path-granular: a bounding
    node anywhere below the head excuses it. localCheckpoint/cache
    boundaries print as Scan ExistingRDD and hide fact provenance."""
    details = _details(plan)
    out = []
    for tree in _trees(plan):
        for i, (depth, name, nid) in enumerate(tree):
            if not head(name, details.get(nid, ("", ""))[1]):
                continue
            facts: set[str] = set()
            bounded = False
            for d2, n2, id2 in tree[i + 1:]:
                if d2 <= depth:
                    break
                det = details.get(id2)
                if n2.startswith("Scan parquet") and det is not None:
                    facts |= set(_SCAN_TABLE.findall(det[1])) & FACT_TABLES
                bounded = bounded or _is_bounding(det, n2)
            if facts and not bounded:
                out.append((nid, sorted(facts)))
    return out


def broadcast_fact_flags(plan: str) -> list[str]:
    """BroadcastExchange build sides that derive from a fact-class table
    with no bounding reduction: raw/filtered fact rows, or a topmost
    aggregate keyed by an entity id or a vocabulary token (its output grows
    with the corpus). Run on a plan built with auto-broadcast off, the
    surviving broadcasts are the explicit ``F.broadcast()`` hints."""
    return [
        f"BroadcastExchange({nid}) over fact tables {facts} "
        f"with no bounding reduction"
        for nid, facts in _unbounded_fact_subtrees(
            plan, lambda name, body: name.startswith("BroadcastExchange")
        )
    ]


def single_partition_flags(plan: str) -> list[str]:
    """``Exchange SinglePartition`` nodes over an unbounded fact-class
    subtree: a global window or sort that moves a data-scaled stream into
    one task. A window inside an eager checkpoint already ran and does not
    show in the final plan."""
    return [
        f"Exchange SinglePartition({nid}) over {facts} with no bounding reduction"
        for nid, facts in _unbounded_fact_subtrees(
            plan,
            lambda name, body: name.startswith("Exchange")
            and "SinglePartition" in body,
        )
    ]


def hint_plan(spark, df: DataFrame) -> str:
    """``df`` re-planned with auto-broadcast off, so the only surviving
    BroadcastExchanges are explicit ``F.broadcast()`` hints."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        return formatted_plan(df.select("*"))
    finally:
        spark.conf.set(key, prev)


# -- run ----------------------------------------------------------------------

# Correct by design, quadratic by ground truth (most are the recall oracles
# of ANN/LSH twins): skipped, not watchdogged, because their cancelled
# pandas-UDF / hash-agg tasks outlive the cancel and once OOMed the shared
# JVM. Profile one in its own process by passing its exact name as a filter.
QUARANTINE = {
    "q_knn_bruteforce", "q_dedup_embedding_cosine", "q_hard_negative_mining",
    "q_dedup_jaccard_pairs", "q_dedup_minhash_lsh", "q_lsh_band_sweep",
    "q_knn_classifier_eval",  # twin: q_knn_classifier_eval_sampled
    "q_retrieval_mrr",  # twin: q_retrieval_mrr_ann
    "q_tfidf_cosine_pairs",  # twin: q_tfidf_cosine_pairs_capped
}
_DRAIN_S = 120  # how long a cancelled run may take to stop (else a zombie)


def _profile_once(spark, name: str, fn, sf_dir: str, budget: float, tag: str) -> dict:
    """One watchdogged build + noop-write of ``fn``."""
    sc = spark.sparkContext
    groups = (f"profile:build:{name}:{tag}", f"profile:exec:{name}:{tag}")
    rec = {"status": "ok", "build_s": None, "exec_s": None}

    def work():
        try:
            sc.setJobGroup(groups[0], name, interruptOnCancel=True)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rec["build_s"] = round(time.perf_counter() - t0, 3)
            sc.setJobGroup(groups[1], name, interruptOnCancel=True)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # cancelled or genuinely failed
            if "cancelled" in str(exc).lower():
                rec["status"] = "cancelled"
            else:
                rec["status"] = f"error: {type(exc).__name__}"
                traceback.print_exc(file=sys.stderr)
        finally:
            # PySpark 4 has no clearJobGroup; clear the thread-local property
            sc.setLocalProperty("spark.jobGroup.id", None)

    t0 = time.monotonic()
    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(budget)
    if t.is_alive():
        for g in groups:
            sc._jsc.sc().cancelJobGroupAndFutureJobs(g)
        t.join(_DRAIN_S)
        rec["status"] = "OVER_BUDGET" + ("_ZOMBIE" if t.is_alive() else "")
    rec["wall_s"] = round(time.monotonic() - t0, 3)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    rec["jobs_build"], rec["jobs_exec"] = (len(tracker.getJobIdsForGroup(g)) for g in groups)
    return rec


def profile_query(spark, name: str, fn, sf_dir: str, budget: float, runs: int = 1) -> dict:
    """The profile record of one query: the median of ``runs`` runs by wall
    time (the upper one for even ``runs``); a run that is not ``ok`` ends
    the series and is the record."""
    done = []
    for i in range(runs):
        rec = _profile_once(spark, name, fn, sf_dir, budget, str(i))
        if rec["status"] != "ok":
            break
        done.append(rec)
    else:
        rec = sorted(done, key=lambda r: r["wall_s"])[runs // 2]
    return {"name": name, **rec, "quarantined": name in QUARANTINE}


def run(spark, sf_dir: str, budget: float = 120.0, runs: int = 1,
        shard: tuple[int, int] | None = None, resume: str | None = None,
        filters: list[str] | None = None) -> int:
    """Print one profile record per selected query; return the exit code."""
    filters = filters or []
    names = [n for n in sorted(REGISTRY) if not filters or any(f in n for f in filters)]
    if shard is not None:
        names = names[shard[0]::shard[1]]
    resumed = _records(resume) if resume and os.path.exists(resume) else []
    done = {r.get("name") for r in resumed}
    bad = 0
    for name in (n for n in names if n not in done):
        # a broad substring like 'q_dedup' must not drag a quarantined query
        # into the shared JVM: it runs only when named exactly
        if name in QUARANTINE and name not in filters:
            rec = {"name": name, "status": "SKIPPED_QUARANTINED", "build_s": None,
                   "exec_s": None, "wall_s": 0.0, "jobs_build": 0, "jobs_exec": 0,
                   "quarantined": True}
        else:
            rec = profile_query(spark, name, REGISTRY[name].fn, sf_dir, budget, runs)
        bad += rec["status"] != "ok" and not rec["quarantined"]
        print(json.dumps(rec, sort_keys=True), flush=True)
    return 1 if bad else 0


# -- plans --------------------------------------------------------------------


def plans(spark, sf_dir: str, out_dir: str, names: list[str] | None = None) -> dict:
    """Write ``<name>.txt`` (the default formatted plan) per query and
    ``plans.json``; return the JSON's content. Each query is built once;
    the hint-only plan re-plans the same DataFrame."""
    os.makedirs(out_dir, exist_ok=True)
    out = {k: {} for k in ("flag_counts", "multi_scans", "broadcast_fact_flags",
                           "single_partition_flags", "errors")}
    for name in sorted(names or REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = formatted_plan(df)
            hinted = broadcast_fact_flags(hint_plan(spark, df))
        except Exception as exc:  # noqa: BLE001 - one bad query must not end the pass
            out["errors"][name] = str(exc)[:200]
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        counts = flag_counts(plan)
        found = {
            "flag_counts": counts if any(counts.values()) else None,
            "multi_scans": {t: n for t, n in scan_counts(plan).items() if n > 1},
            "broadcast_fact_flags": hinted,
            "single_partition_flags": single_partition_flags(plan),
        }
        for key, val in found.items():
            if val:
                out[key][name] = val
    with open(os.path.join(out_dir, "plans.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(" ".join(f"{k}={len(v)}" for k, v in out.items()), f"-> {out_dir}")
    return out


# -- report -------------------------------------------------------------------


def _records(path: str) -> list[dict]:
    """The JSON objects of a JSONL file; other lines are skipped."""
    out = []
    with open(path) as fh:
        for line in fh:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if isinstance(rec, dict):
                out.append(rec)
    return out


def report(path: str) -> int:
    """Print a markdown summary of a ``run`` JSONL file: totals, failures,
    the slowest ok queries and the quarantined ones."""
    rows = [{"wall_s": r.get("wall_sec", 0.0), **r} for r in _records(path) if "status" in r]
    ok = sorted((r for r in rows if r["status"] == "ok"), key=lambda r: -r["wall_s"])
    bad = [r for r in rows if r["status"] != "ok" and not r.get("quarantined")]
    walls = sorted(r["wall_s"] for r in ok)

    def pct(p):
        return walls[min(len(walls) - 1, int(p * len(walls)))] if walls else 0.0

    print(f"profiled: {len(rows)}  ok: {len(ok)}  failed/over-budget (non-quarantined): "
          f"{len(bad)}  quarantined: {sum(bool(r.get('quarantined')) for r in rows)}")
    print(f"wall p50 {pct(.5):.1f}s  p90 {pct(.9):.1f}s  p99 {pct(.99):.1f}s  "
          f"max {pct(1):.1f}s  total {sum(walls) / 60:.1f}min")
    if bad:
        print("\nNON-QUARANTINED FAILURES:")
        for r in bad:
            print(f"  {r['name']}: {r['status']} ({r['wall_s']}s)")
    print("\nslowest ok:\n| query | wall s | build s | exec s | jobs build | jobs exec |")
    print("|---|---|---|---|---|---|")
    for r in ok[:12]:
        cells = [r.get(k) for k in ("build_s", "exec_s", "jobs_build", "jobs_exec")]
        print(f"| `{r['name']}` | {r['wall_s']:.1f} | "
              + " | ".join("-" if c is None else str(c) for c in cells) + " |")
    print("\nquarantined (documented quadratic recall oracles):")
    for r in rows:
        if r.get("quarantined"):
            print(f"| `{r['name']}` | {r['status']} | {r['wall_s']:.1f} |")
    return 0


# -- command line -------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m watermill_spark.analytics.profile")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("run", help="time queries through the noop sink")
    p.add_argument("sf_dir")
    p.add_argument("--budget", type=float, default=120.0, help="seconds per run")
    p.add_argument("--runs", type=int, default=1)
    p.add_argument("--shard", type=int, nargs=2, metavar=("K", "M"),
                   help="profile names[K::M] of the sorted selection")
    p.add_argument("--resume", metavar="FILE", help="skip names recorded in FILE")
    p.add_argument("filters", nargs="*", help="name substrings")
    p = sub.add_parser("plans", help="capture and audit formatted plans")
    p.add_argument("sf_dir")
    p.add_argument("out_dir")
    p.add_argument("names", nargs="*")
    p = sub.add_parser("report", help="summarize a run JSONL file")
    p.add_argument("file")
    # parse_args would stop the filters at the first option after SF_DIR
    args, extra = ap.parse_known_args(argv)
    if extra and (args.cmd != "run" or any(e.startswith("-") for e in extra)):
        ap.error(f"unrecognized arguments: {' '.join(extra)}")
    if extra:
        args.filters += extra
    if args.cmd == "run" and args.runs < 1:
        ap.error("--runs must be at least 1")
    if args.cmd == "report":
        return report(args.file)

    spark = get_spark(f"profile-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "plans":
        plans(spark, args.sf_dir, args.out_dir, args.names)
        return 0
    return run(spark, args.sf_dir, args.budget, args.runs,
               tuple(args.shard) if args.shard else None, args.resume, args.filters)


if __name__ == "__main__":
    sys.exit(main())
