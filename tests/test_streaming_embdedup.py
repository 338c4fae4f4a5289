"""Streaming embedding near-dup filter: greedy-semantics oracle, micro-batch
invariance, chain behavior, replay idempotence, crash replay, compaction,
transport wiring.

Oracle strategy: the conflict RELATION (shared LSH band AND verified cosine)
is computed once via the filter's own Spark expressions — so the float
arithmetic is never re-implemented in Python — and the sequential greedy
pass over that relation is pure Python. What these tests pin is the
DISTRIBUTED DECISION LOGIC (fixpoint + registry), not the banding floats;
those are cross-engine pinned by `q_dedup_embedding_lsh_pairs`' DuckDB
parity row.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from watermill_spark.message import new_message
from watermill_spark.sources.parquet import ParquetPubSub
from watermill_spark.streaming.dedup import DUP_OF, StreamingEmbeddingDedupFilter

SF = "/root/testdata/sf0.001"
N_DOCS = 200  # vec_id < 200 — enough for dozens of conflicts, fast


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="wm-embdedup-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs_df(spark, limit=N_DOCS):
    return (
        spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        .filter(F.col("vec_id") < limit)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )


def _conflict_pairs(spark, docs, tau):
    """(a < b) pairs sharing >=1 band with round(cosine,6) >= tau — computed
    with the SAME Spark expressions the filter uses."""
    from watermill_spark.analytics.similarity import cosine, hyperplane_bands

    banded = docs.select(
        "doc_id", F.explode(hyperplane_bands(F.col("embedding"))).alias("b")
    ).select("doc_id", "b.band_idx", "b.band_key")
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
        .join(docs.select(F.col("doc_id").alias("a"), F.col("embedding").alias("ea")), "a")
        .join(docs.select(F.col("doc_id").alias("b"), F.col("embedding").alias("eb")), "b")
        .filter(F.round(cosine("ea", "eb"), 6) >= tau)
        .select("a", "b")
    )
    return {(r.a, r.b) for r in pairs.collect()}


def _greedy_oracle(ids, pairs):
    """Sequential greedy first-seen-wins over doc_id order on the conflict
    relation; rejected docs block nothing."""
    import collections

    smaller = collections.defaultdict(list)
    for a, b in pairs:
        smaller[b].append(a)
    admitted, rejected = set(), {}
    for i in sorted(ids):
        blockers = sorted(a for a in smaller.get(i, []) if a in admitted)
        if blockers:
            rejected[i] = blockers[0]
        else:
            admitted.add(i)
    return admitted, rejected


def _run_sliced(spark, workdir, rows, slices, tag):
    filt = StreamingEmbeddingDedupFilter(
        spark, os.path.join(workdir, f"reg-{tag}")
    )
    admitted, rejected = set(), {}
    lo = 0
    for i, hi in enumerate(slices):
        batch = spark.createDataFrame(
            rows[lo:hi], "doc_id LONG, embedding ARRAY<DOUBLE>"
        )
        adm, rej, _rep = filt.process_batch(batch, i)
        admitted |= {r.doc_id for r in adm.collect()}
        rejected.update({r.doc_id: r.dup_of for r in rej.collect()})
        lo = hi
    return admitted, rejected


@pytest.fixture(scope="module")
def corpus(spark):
    docs = _docs_df(spark)
    rows = [(r.doc_id, list(r.embedding)) for r in docs.collect()]
    from watermill_spark.analytics.similarity import EMB_DEDUP_TAU

    pairs = _conflict_pairs(spark, docs, EMB_DEDUP_TAU)
    adm, rej = _greedy_oracle([r[0] for r in rows], pairs)
    assert rej, "corpus should produce rejections at the default tau"
    return rows, pairs, adm, rej


def test_one_shot_matches_greedy_oracle(spark, workdir, corpus):
    rows, _pairs, adm_o, rej_o = corpus
    admitted, rejected = _run_sliced(spark, workdir, rows, [len(rows)], "one")
    assert admitted == adm_o
    assert rejected == rej_o


def test_microbatch_invariance(spark, workdir, corpus):
    rows, _pairs, adm_o, rej_o = corpus
    n = len(rows)
    for tag, slices in {
        "quarters": [n // 4, n // 2, 3 * n // 4, n],
        "uneven": [1, 7, 50, 51, n],
        "tiny-then-rest": [10, n],
    }.items():
        admitted, rejected = _run_sliced(spark, workdir, rows, slices, tag)
        assert admitted == adm_o, tag
        assert rejected == rej_o, tag


def test_rejected_doc_does_not_block_chain(spark, workdir, corpus):
    rows, pairs, adm_o, rej_o = corpus
    tri = sorted(
        (a, b, c)
        for (a, b) in pairs
        for (b2, c) in pairs
        if b2 == b and a < b < c and (a, c) not in pairs
    )
    if not tri:
        pytest.skip("corpus has no A<B<C conflict chain at this tau")
    a, b, c = tri[0]
    assert rej_o.get(b) is not None, "B must be rejected by some admitted doc"
    # C conflicts only with docs that may themselves be rejected; the oracle
    # already encodes greedy semantics — just confirm the filter agrees on
    # the whole chain when run over exactly these three docs.
    three = [r for r in rows if r[0] in (a, b, c)]
    admitted, rejected = _run_sliced(spark, workdir, three, [3], "chain")
    assert admitted == {a, c}
    assert rejected == {b: a}


def test_chain_across_batches(spark, workdir, corpus):
    rows, pairs, _adm_o, _rej_o = corpus
    tri = sorted(
        (a, b, c)
        for (a, b) in pairs
        for (b2, c) in pairs
        if b2 == b and a < b < c and (a, c) not in pairs
    )
    if not tri:
        pytest.skip("corpus has no A<B<C conflict chain at this tau")
    a, b, c = tri[0]
    three = [r for r in rows if r[0] in (a, b, c)]
    admitted, rejected = _run_sliced(spark, workdir, three, [1, 2, 3], "chainx")
    assert admitted == {a, c}
    assert rejected == {b: a}


def test_replay_is_idempotent(spark, workdir, corpus):
    rows, _pairs, adm_o, rej_o = corpus
    sub = rows[:60]
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    b0 = spark.createDataFrame(sub, "doc_id LONG, embedding ARRAY<DOUBLE>")
    adm1, rej1, rep1 = filt.process_batch(b0, 0)
    admitted1 = {r.doc_id for r in adm1.collect()}
    assert {r.doc_id for r in rep1.collect()} == set()
    # redeliver the SAME docs as a new batch (at-least-once)
    adm2, rej2, rep2 = filt.process_batch(b0, 1)
    assert {r.doc_id for r in rep2.collect()} == admitted1
    assert {r.doc_id for r in adm2.collect()} == set()
    assert {r.doc_id: r.dup_of for r in rej2.collect()} == {
        r.doc_id: r.dup_of for r in rej1.collect()
    }


def test_crash_replay_same_batch_id(spark, workdir, corpus):
    rows, _pairs, _adm_o, _rej_o = corpus
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    b0 = spark.createDataFrame(rows[:50], "doc_id LONG, embedding ARRAY<DOUBLE>")
    b1 = spark.createDataFrame(rows[50:100], "doc_id LONG, embedding ARRAY<DOUBLE>")
    filt.process_batch(b0, 0)
    adm1, rej1, rep1 = filt.process_batch(b1, 1)
    r1 = (
        {r.doc_id for r in adm1.collect()},
        {r.doc_id: r.dup_of for r in rej1.collect()},
        {r.doc_id for r in rep1.collect()},
    )
    # crash after the registry append, before the sink commit: replay of
    # batch 1 must re-derive from PREFIX state only (its own earlier write
    # is excluded), yielding identical decisions
    adm2, rej2, rep2 = filt.process_batch(b1, 1)
    r2 = (
        {r.doc_id for r in adm2.collect()},
        {r.doc_id: r.dup_of for r in rej2.collect()},
        {r.doc_id for r in rep2.collect()},
    )
    assert r1 == r2


def test_registry_compaction_preserves_decisions(spark, workdir, corpus):
    rows, _pairs, adm_o, rej_o = corpus
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    n = len(rows)
    slices = [n // 3, 2 * n // 3]
    lo = 0
    admitted, rejected = set(), {}
    for i, hi in enumerate(slices):
        batch = spark.createDataFrame(
            rows[lo:hi], "doc_id LONG, embedding ARRAY<DOUBLE>"
        )
        adm, rej, _ = filt.process_batch(batch, i)
        admitted |= {r.doc_id for r in adm.collect()}
        rejected.update({r.doc_id: r.dup_of for r in rej.collect()})
        lo = hi
    stats = filt.compact_registry(target_files=4)
    assert stats["after"] == 1
    batch = spark.createDataFrame(rows[lo:], "doc_id LONG, embedding ARRAY<DOUBLE>")
    adm, rej, _ = filt.process_batch(batch, 2)
    admitted |= {r.doc_id for r in adm.collect()}
    rejected.update({r.doc_id: r.dup_of for r in rej.collect()})
    assert admitted == adm_o
    assert rejected == rej_o


def test_half_written_batch_is_invisible(spark, workdir, corpus):
    """A batch whose vecs part committed but whose bands part did not (a
    crash between the two writes) is invisible to both registry reads and
    to compaction, which neither merges nor removes it."""
    rows = corpus[0]
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    for i in range(3):
        filt.process_batch(spark.createDataFrame(
            rows[i * 20 : (i + 1) * 20], "doc_id LONG, embedding ARRAY<DOUBLE>"
        ), i)

    def bands(**kw):
        return {tuple(r) for r in filt.registry_bands(**kw).collect()}

    def vecs(**kw):
        return {(r.owner, tuple(r.emb)) for r in filt.registry_vecs(**kw).collect()}

    want_bands, want_vecs = bands(exclude_batch=1), vecs(exclude_batch=1)
    assert want_bands != bands() and want_vecs != vecs()  # batch 1 registered
    half = os.path.join(filt.registry_dir, "batch=1")
    os.remove(os.path.join(half, "bands", "_SUCCESS"))
    assert bands() == want_bands
    assert vecs() == want_vecs
    assert filt.compact_registry(target_files=2) == {"before": 2, "after": 1}
    assert os.path.exists(os.path.join(half, "vecs", "_SUCCESS"))  # untouched
    assert bands() == want_bands
    assert vecs() == want_vecs


def test_null_embedding_always_admitted(spark, workdir):
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    batch = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id LONG, embedding ARRAY<DOUBLE>"
    )
    adm, rej, rep = filt.process_batch(batch, 0)
    assert {r.doc_id for r in adm.collect()} == {1, 2}
    assert rej.count() == 0 and rep.count() == 0
    # and they registered nothing: replaying them admits again (bandless)
    adm2, _, rep2 = filt.process_batch(batch, 1)
    assert {r.doc_id for r in adm2.collect()} == {1, 2}
    assert rep2.count() == 0


def test_attach_end_to_end(spark, workdir, corpus):
    rows, _pairs, adm_o, rej_o = corpus
    sub = rows[:80]
    oracle_adm = {d for d in adm_o if d < 80}
    oracle_rej = {d: o for d, o in rej_o.items() if d < 80}
    from watermill_spark.message import messages_df

    ps = ParquetPubSub(spark, os.path.join(workdir, "topics"))
    msgs = [
        new_message(
            payload=json.dumps(emb).encode(),
            metadata={"doc_id": str(doc_id)},
        )
        for doc_id, emb in sub
    ]
    # two publishes -> two file groups -> multiple micro-batches with
    # max_files_per_trigger=1
    ps.publish("docs-in", messages_df(spark, msgs[:40]))
    ps.publish("docs-in", messages_df(spark, msgs[40:]))
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    q = filt.attach(
        ps,
        "docs-in",
        "docs-ok",
        "docs-dup",
        os.path.join(workdir, "cp"),
    )
    try:
        assert q.awaitTermination(600), "stream did not drain in time"
    finally:
        q.stop()
    ok = ps.subscribe("docs-ok")
    dup = ps.subscribe("docs-dup")
    got_ok = {int(r["metadata"]["doc_id"]) for r in ok.collect()}
    got_dup = {
        int(r["metadata"]["doc_id"]): int(r["metadata"][DUP_OF])
        for r in dup.collect()
    }
    assert got_ok == oracle_adm
    assert got_dup == oracle_rej


def test_attach_passes_identityless_messages_through(spark, workdir, corpus):
    rows, _pairs, _adm_o, _rej_o = corpus
    from watermill_spark.message import messages_df

    ps = ParquetPubSub(spark, os.path.join(workdir, "topics"))
    msgs = [
        new_message(json.dumps(rows[0][1]), metadata={"doc_id": str(rows[0][0])},
                    uuid="v0"),
        new_message(json.dumps(rows[1][1]), metadata={}, uuid="anon-1"),
    ]
    ps.publish("ein", messages_df(spark, msgs))
    f = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    q = f.attach(ps, "ein", "eout", "edup", os.path.join(workdir, "cp"))
    assert q.awaitTermination(300)
    assert {r.uuid for r in ps.subscribe("eout").collect()} == {"v0", "anon-1"}
    assert ps.subscribe("edup").count() == 0
    assert f.registry_vecs().count() == 1  # only the keyed doc registered


def test_zero_norm_embeddings_are_bandless(spark, workdir):
    """A zero (or null-element) vector has no direction: cosine against it
    is 0/0 = NULL, which would break the cos(self,self)=1 replay invariant
    and make redeliveries re-register forever (review finding). They are
    treated like null embeddings: always admitted, never registered."""
    filt = StreamingEmbeddingDedupFilter(spark, os.path.join(workdir, "reg"))
    batch = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [0.0] * 4), (3, [1.0, None, 0.5, 0.5])],
        "doc_id LONG, embedding ARRAY<DOUBLE>",
    )
    adm, rej, rep = filt.process_batch(batch, 0)
    assert {r.doc_id for r in adm.collect()} == {1, 2, 3}
    assert rej.count() == 0 and rep.count() == 0
    assert filt.registry_vecs().count() == 0
    # redelivery: admitted again as bandless, registry still empty
    adm2, rej2, rep2 = filt.process_batch(batch, 1)
    assert {r.doc_id for r in adm2.collect()} == {1, 2, 3}
    assert rej2.count() == 0 and rep2.count() == 0
    assert filt.registry_vecs().count() == 0


def test_max_rounds_fallback_is_exact(spark, workdir, corpus):
    rows, pairs, _adm_o, _rej_o = corpus
    tri = sorted(
        (a, b, c)
        for (a, b) in pairs
        for (b2, c) in pairs
        if b2 == b and a < b < c and (a, c) not in pairs
    )
    if not tri:
        pytest.skip("corpus has no A<B<C conflict chain at this tau")
    a, b, c = tri[0]
    three = [r for r in rows if r[0] in (a, b, c)]
    filt = StreamingEmbeddingDedupFilter(
        spark, os.path.join(workdir, "reg"), max_rounds=1
    )
    batch = spark.createDataFrame(three, "doc_id LONG, embedding ARRAY<DOUBLE>")
    adm, rej, _ = filt.process_batch(batch, 0)
    assert {r.doc_id for r in adm.collect()} == {a, c}
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {(b, a)}


def test_residue_cap_refuses_oversized_driver_collect(spark, workdir, corpus):
    """Same driver-OOM guard as the text twin: the embedding hatch counts
    undecided docs + verified edges before collecting and raises with
    sizing guidance past residue_cap."""
    from watermill_spark.streaming.dedup import ResidueCapExceeded

    rows, pairs, _adm_o, _rej_o = corpus
    tri = sorted(
        (a, b, c)
        for (a, b) in pairs
        for (b2, c) in pairs
        if b2 == b and a < b < c and (a, c) not in pairs
    )
    if not tri:
        pytest.skip("corpus has no A<B<C conflict chain at this tau")
    a, b, c = tri[0]
    three = [r for r in rows if r[0] in (a, b, c)]
    filt = StreamingEmbeddingDedupFilter(
        spark, os.path.join(workdir, "reg"), max_rounds=1, residue_cap=0
    )
    batch = spark.createDataFrame(three, "doc_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ResidueCapExceeded, match="Lower the trigger size"):
        filt.process_batch(batch, 0)


# -- multiprobe ---------------------------------------------------------------

# dim-8 vectors with n_tables=1, n_bits=4: bit b reads coordinate
# (b * 19349663) % 8 = 7b % 8 -> coords [0, 7, 6, 5]. V1/V2 agree
# everywhere except coord 7, whose tiny |0.05| margin makes it V2's
# lowest-margin bit: base keys differ in exactly that one bit (15 vs 13),
# cosine ~0.99998 -- so base banding MISSES the pair and a single probe
# (flip the lowest-|margin| bit) catches it. The minimal multiprobe
# fixture.
V1 = [1.0, 9.0, 9.0, 9.0, 9.0, 1.0, 1.0, 0.05]
V2 = [1.0, 9.0, 9.0, 9.0, 9.0, 1.0, 1.0, -0.05]
MP_KW = dict(tau=0.9, n_tables=1, n_bits=4)


def _mp_filter(spark, workdir, sub, n_probes):
    return StreamingEmbeddingDedupFilter(
        spark, os.path.join(workdir, sub), n_probes=n_probes, **MP_KW
    )


def test_multiprobe_catches_one_bit_flip_across_batches(spark, workdir):
    """Registry path: doc 2's probe key (lowest-|margin| bit flipped) must
    hit doc 1's registered BASE band; without probes the pair is missed."""
    f0 = _mp_filter(spark, workdir, "reg0", n_probes=0)
    for i, vec in ((1, V1), (2, V2)):
        adm, rej, _ = f0.process_batch(
            spark.createDataFrame([(i, vec)], "doc_id LONG, embedding ARRAY<DOUBLE>"), i
        )
        assert adm.count() == 1 and rej.count() == 0  # base banding misses

    f1 = _mp_filter(spark, workdir, "reg1", n_probes=1)
    adm, rej, _ = f1.process_batch(
        spark.createDataFrame([(1, V1)], "doc_id LONG, embedding ARRAY<DOUBLE>"), 0
    )
    assert {r.doc_id for r in adm.collect()} == {1}
    adm, rej, _ = f1.process_batch(
        spark.createDataFrame([(2, V2)], "doc_id LONG, embedding ARRAY<DOUBLE>"), 1
    )
    assert adm.count() == 0
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {(2, 1)}
    # probes are a query-side cost only: the registry holds base keys,
    # n_tables rows per admitted doc
    assert f1.registry_bands().count() == 1


def test_multiprobe_in_batch_equals_registry_path(spark, workdir):
    """Slicing invariance with probes on: the one-batch run must decide
    exactly what the two-batch run decided (directional ~a.is_probe join
    mirrors the base-only registry)."""
    f = _mp_filter(spark, workdir, "reg", n_probes=1)
    batch = spark.createDataFrame(
        [(1, V1), (2, V2)], "doc_id LONG, embedding ARRAY<DOUBLE>"
    )
    adm, rej, _ = f.process_batch(batch, 0)
    assert {r.doc_id for r in adm.collect()} == {1}
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {(2, 1)}


def test_multiprobe_replay_and_rejected_redelivery(spark, workdir):
    """Redelivered admitted doc classifies as replay (base self-hit, cos=1);
    a redelivered rejected doc is rejected again with the same blame."""
    f = _mp_filter(spark, workdir, "reg", n_probes=1)
    batch = spark.createDataFrame(
        [(1, V1), (2, V2)], "doc_id LONG, embedding ARRAY<DOUBLE>"
    )
    f.process_batch(batch, 0)
    adm, rej, rep = f.process_batch(batch, 1)
    assert adm.count() == 0
    assert {r.doc_id for r in rep.collect()} == {1}
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {(2, 1)}
