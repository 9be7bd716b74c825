"""Property-based test of the keyed merge against a dict-based oracle.

SURVEY §7 ranks the merge's field-survival semantics as the hardest thing
to get right; this locks it with Hypothesis: arbitrary interleavings of
batches are applied both by the Spark merge (operators/merge.py) and by a
direct Python simulation of Mongo's ordered
``UpdateOne({"code": k}, {"$set": dump}, upsert=True)``
(/root/reference/app/processing/data_processor.py:95-113), and the final
tables must be identical.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_pipeline_challenge_spark.batchstore import start_view
from data_pipeline_challenge_spark.operators.merge import merge_products
from data_pipeline_challenge_spark.streaming import dedup_stream

CODES = ["A", "B", "C"]
ATTR_KEYS = ["k1", "k2", "k3"]

# A record: code, optional product_name (None means "explicit null"), and a
# sparse set of attr values (absent key != null value — the crux).
record_st = st.fixed_dictionaries(
    {
        "code": st.sampled_from(CODES),
        "name": st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
        "attrs": st.dictionaries(
            st.sampled_from(ATTR_KEYS), st.sampled_from(['"v1"', '"v2"', "null", "7"]), max_size=3
        ),
    }
)
batches_st = st.lists(st.lists(record_st, min_size=1, max_size=6), min_size=1, max_size=4)


def oracle_apply(batches):
    """Direct simulation of the reference's ordered bulk upsert."""
    table: dict[str, dict] = {}
    for gen, batch in enumerate(batches):
        for seq, rec in enumerate(batch):
            doc = table.setdefault(rec["code"], {})
            # $set of the full model dump: spine fields always set
            # (product_name may be explicit None), attrs keys set per-key,
            # absent attr keys survive.
            doc["product_name"] = rec["name"]
            doc["file_id"] = f"f{gen}"
            for k, v in rec["attrs"].items():
                doc[k] = v
    return {
        code: (
            doc["product_name"],
            doc["file_id"],
            tuple(sorted((k, v) for k, v in doc.items() if k not in ("product_name", "file_id"))),
        )
        for code, doc in table.items()
    }


@settings(
    max_examples=12,  # each example runs Spark jobs; keep the suite fast
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(batches=batches_st)
def test_merge_matches_reference_upsert_semantics(spark_prop, batches):
    spark = spark_prop
    table = None
    for gen, batch in enumerate(batches):
        rows = [
            (
                rec["code"],
                rec["name"],
                f"f{gen}",
                dt.datetime(2024, 1, 1 + gen),
                rec["attrs"],
                seq,
            )
            for seq, rec in enumerate(batch)
        ]
        bdf = spark.createDataFrame(
            rows,
            "code string, product_name string, file_id string, "
            "last_modified_at_company timestamp, attrs map<string,string>, seq long",
        )
        table = merge_products(table, bdf)

    got = {
        r["code"]: (
            r["product_name"],
            r["file_id"],
            tuple(sorted(r["attrs"].items())),
        )
        for r in table.collect()
    }
    assert got == oracle_apply(batches)


# -- rollup merge associativity -------------------------------------------

event_st = st.tuples(
    st.integers(min_value=0, max_value=4 * 3600 * 1_000_000_000),  # ts_ns, 4h span
    st.sampled_from(["view", "buy", "refund"]),
    st.floats(
        min_value=-1000, max_value=1000, allow_nan=False, allow_infinity=False
    ),
)
events_st = st.lists(event_st, min_size=0, max_size=30)


@settings(
    max_examples=10,  # each example runs Spark jobs; keep the suite fast
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=events_st, b=events_st)
def test_rollup_merge_associative_property(spark, a, b):
    """merge(rollup(A), rollup(B)) == rollup(A ∪ B) for arbitrary event
    batches — including negative values (floor-based cent quantization),
    empty batches, and bucket-straddling timestamps. This is the invariant
    the streaming continuous aggregate rests on."""
    from data_pipeline_challenge_spark.operators.rollup import (
        hourly_rollup,
        merge_rollups,
    )

    def df_of(rows):
        return spark.createDataFrame(
            [(ns, t, v) for ns, t, v in rows],
            "ts_ns long, event_type string, value double",
        )

    full = hourly_rollup(df_of(a + b))
    merged = merge_rollups(hourly_rollup(df_of(a)), hourly_rollup(df_of(b)))

    def key(df):
        return sorted(
            (
                r["bucket_hr"], r["event_type"], r["n_events"], r["sum_cents"],
                r["min_value"], r["max_value"],
            )
            for r in df.collect()
        )

    assert key(merged) == key(full)


# -- ledger compaction == full-log replay ----------------------------------

_FILES = ["fa", "fb", "fc"]
_STATUSES = ["uploaded", "processing", "processed", "processed_with_errors", "failed"]

# One append batch: 1-3 (file, status) events, plus a post-append crash
# simulation: None, 'unpublish' (symlink lost between version write and
# publish), or 'drop_state' (whole state cache lost; legacy-warehouse seed).
batch_st = st.tuples(
    st.lists(
        st.tuples(st.sampled_from(_FILES), st.sampled_from(_STATUSES)),
        min_size=1,
        max_size=3,
    ),
    st.sampled_from([None, "unpublish", "drop_state"]),
)
ledger_run_st = st.lists(batch_st, min_size=1, max_size=4)


@settings(
    max_examples=8,  # each example runs several Spark write jobs
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(run=ledger_run_st)
def test_ledger_compaction_equals_full_log_replay(spark_prop, run):
    """For ANY interleaving of status events — including crash windows
    that lose the state symlink or the whole state cache between appends —
    the incrementally fold-compacted state table must equal a full replay
    of the append-only event log. This is the invariant that makes the
    state table a pure cache: losing it can never lose or change a
    file's status.

    Counters are a deterministic function of (file, status) so that rows
    tied on the full (event_ts, progress, status) ordering key are
    identical — the winner among identical rows is arbitrary on both
    paths, which is exactly when that arbitrariness is harmless."""
    import datetime as dt
    import shutil
    import tempfile
    from pathlib import Path

    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    spark = spark_prop
    wh = Path(tempfile.mkdtemp(prefix="ledger_prop_"))
    try:
        store = LedgerStore(spark, wh)
        for events, crash in run:
            store.append(
                [
                    {
                        "file_id": f,
                        "filename": f + ".json",
                        "location": "/landing/" + f,
                        "uploaded_at": dt.datetime(2024, 1, 1),
                        "content_type": "application/json",
                        "status": s,
                        "total_records": len(s),  # deterministic per status
                        "records_processed": len(f),
                        "records_failed": 0,
                    }
                    for f, s in events
                ]
            )
            state = Path(store.state_path)
            if crash == "unpublish" and state.is_symlink():
                state.unlink()  # crash between version write and publish
            elif crash == "drop_state":
                if state.is_symlink():
                    state.unlink()
                elif state.exists():
                    shutil.rmtree(state)
                for v in store._versions():
                    shutil.rmtree(v, ignore_errors=True)

        def key(df):
            return sorted(
                (
                    r["file_id"], r["status"], r["total_records"],
                    r["records_processed"], r["records_failed"], r["event_ts"],
                )
                for r in df.collect()
            )

        replay = store._latest_per_file(store.read_events())
        assert key(store.current()) == key(replay)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# -- packing stream shard invariance ---------------------------------------

# Arbitrary corpus rows split arbitrarily across micro-batch files, with
# doc_ids assigned by a random permutation so arrival order and pack order
# (doc_id within shard) are decoupled.
_pack_batches_st = st.lists(
    st.lists(
        st.tuples(st.sampled_from(["web", "books"]), st.integers(1, 120)),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=3,
).flatmap(
    lambda bs: st.permutations(range(1, sum(len(b) for b in bs) + 1)).map(
        lambda ids: (bs, list(ids))
    )
)


@settings(
    max_examples=5,  # each example drains a full streaming query
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(arrival=_pack_batches_st)
def test_packing_stream_invariant_to_arrival_order(spark, arrival):
    """For ANY rows, ANY split into micro-batches, and ANY doc_id-vs-arrival
    permutation, the drained incremental packed table equals the batch
    ``pack_sequences_sharded`` over the union — shard membership is a pure
    function of the order key and a touched shard is always recomputed over
    its full history, so arrival order can never leak into bin assignment."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )

    batches, ids = arrival
    SCHEMA = "source string, doc_id long, n_tokens long"
    root = Path(tempfile.mkdtemp(prefix="pack_prop_"))
    try:
        corpus_dir = root / "corpus"
        corpus_dir.mkdir()
        it = iter(ids)
        for i, batch in enumerate(batches):
            src, toks = zip(*batch)
            pq.write_table(
                pa.table(
                    {
                        "source": pa.array(src),
                        "doc_id": pa.array([next(it) for _ in batch], pa.int64()),
                        "n_tokens": pa.array(toks, pa.int64()),
                    }
                ),
                str(corpus_dir / f"b{i}.parquet"),
            )
        q = start_packing_stream(
            spark, corpus_dir, root / "packed", root / "ckpt", SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

        def norm(df):
            return {
                tuple(r)
                for r in df.select(
                    "source", "shard", "doc_id", "n_tokens", "bin"
                ).collect()
            }

        full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        expected = pack_sequences_sharded(
            full, "source", "doc_id", "n_tokens", capacity=100, n_shards=4
        )
        assert norm(current_packed(spark, root / "packed")) == norm(expected)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(
    max_examples=5,  # each example drains a streaming query + folds
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    arrival=_pack_batches_st,
    data=st.data(),
)
def test_packed_revocation_property(spark, arrival, data):
    """For ANY corpus, ANY arrival split, and ANY sequence of revocation
    deltas (overlapping deltas included — re-revoking an already-revoked
    doc, revoking ids never packed), the folded packed table equals the
    batch ``pack_sequences_sharded`` over the surviving rows, and
    re-applying any delta is a no-op. The fold's shard arithmetic, the
    revoked-keys anti-join, and the fingerprint ledger can't disagree
    for any input shape."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        revoke_packed_docs,
        start_packing_stream,
    )

    batches, ids = arrival
    all_ids = list(range(1, sum(len(b) for b in batches) + 1))
    n_folds = data.draw(st.integers(1, 2), label="n_folds")
    deltas = [
        data.draw(
            st.lists(
                st.sampled_from(all_ids + [9_999_001, 9_999_002]),
                min_size=1,
                max_size=max(1, len(all_ids)),
                unique=True,
            ),
            label=f"delta_{i}",
        )
        for i in range(n_folds)
    ]
    SCHEMA = "source string, doc_id long, n_tokens long"
    root = Path(tempfile.mkdtemp(prefix="pack_revoke_prop_"))
    try:
        corpus_dir = root / "corpus"
        corpus_dir.mkdir()
        it = iter(ids)
        for i, batch in enumerate(batches):
            src, toks = zip(*batch)
            pq.write_table(
                pa.table(
                    {
                        "source": pa.array(src),
                        "doc_id": pa.array([next(it) for _ in batch], pa.int64()),
                        "n_tokens": pa.array(toks, pa.int64()),
                    }
                ),
                str(corpus_dir / f"b{i}.parquet"),
            )
        q = start_packing_stream(
            spark, corpus_dir, root / "packed", root / "ckpt", SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

        revoked: set[int] = set()
        for delta in deltas:
            revoke_packed_docs(
                spark, root / "packed",
                spark.createDataFrame([(i,) for i in delta], "doc_id long"),
                "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
            )
            revoked |= set(delta)
        # Idempotence: re-applying the first delta changes nothing.
        assert revoke_packed_docs(
            spark, root / "packed",
            spark.createDataFrame([(i,) for i in deltas[0]], "doc_id long"),
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
        ) == 0

        def norm(df):
            return {
                tuple(r)
                for r in df.select(
                    "source", "shard", "doc_id", "n_tokens", "bin"
                ).collect()
            }

        survivors = spark.read.schema(SCHEMA).parquet(str(corpus_dir)).filter(
            ~F.col("doc_id").isin(sorted(revoked))
        )
        expected = pack_sequences_sharded(
            survivors, "source", "doc_id", "n_tokens", capacity=100, n_shards=4
        )
        got = current_packed(spark, root / "packed")
        assert norm(got) == norm(expected)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- dedup stream fingerprint-set invariance ---------------------------------

# Arbitrary documents (drawn from a small text pool so duplicates are
# frequent) split arbitrarily across micro-batch files, with doc_ids
# assigned by a random permutation.
_TEXT_POOL = [
    "the quick brown fox",
    "The  Quick   Brown Fox",   # same fingerprint after normalization
    "pack sequences into bins",
    "spark catalyst optimizer",
    "SPARK catalyst OPTIMIZER",  # same fingerprint after normalization
    "ledger event replay",
]

_dedup_batches_st = st.lists(
    st.lists(st.sampled_from(_TEXT_POOL), min_size=1, max_size=5),
    min_size=1,
    max_size=3,
).flatmap(
    lambda bs: st.permutations(range(1, sum(len(b) for b in bs) + 1)).map(
        lambda ids: (bs, list(ids))
    )
)


@settings(
    max_examples=5,  # each example drains a full streaming query
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(arrival=_dedup_batches_st)
def test_dedup_stream_fp_set_invariant_to_arrival_order(spark, arrival):
    """For ANY documents, ANY split into micro-batches, and ANY
    doc_id-vs-arrival permutation: the drained novel-docs store holds
    exactly ONE row per distinct normalized fingerprint, and its
    fingerprint SET equals the batch ``exact_duplicates`` distinct set
    over the union. (The kept doc_id itself is first-arrival-wins by
    DESIGN, so it is order-dependent — the invariant is the set and the
    one-per-fp cardinality.)"""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.functions.textfn import (
        normalized_fingerprint,
    )
    from data_pipeline_challenge_spark.streaming.dedup_stream import current_novel_docs

    batches, ids = arrival
    SCHEMA = "doc_id long, text string"
    root = Path(tempfile.mkdtemp(prefix="dedup_prop_"))
    try:
        corpus_dir = root / "corpus"
        corpus_dir.mkdir()
        it = iter(ids)
        mtime = 1_700_000_000
        import os as _os

        for i, batch in enumerate(batches):
            p = corpus_dir / f"b{i}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([next(it) for _ in batch], pa.int64()),
                        "text": pa.array(list(batch)),
                    }
                ),
                str(p),
            )
            mtime += 10
            _os.utime(p, (mtime, mtime))
        q = start_view(
            spark, dedup_stream.VIEW, corpus_dir, root / "dedup", root / "ckpt", SCHEMA,
            id_col="doc_id", text_col="text", n_prefix=4, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

        docs = current_novel_docs(spark, root / "dedup")
        got = [r["fp"] for r in docs.select("fp").collect()]
        assert len(got) == len(set(got))  # one row per fingerprint

        full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        expected = {
            r["fp"]
            for r in full.select(
                normalized_fingerprint(F.col("text")).alias("fp")
            )
            .distinct()
            .collect()
        }
        assert set(got) == expected
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- near-dedup stream invariants -------------------------------------------

# Documents drawn from template families (mutual near-dups within a family,
# distinct across), split arbitrarily across micro-batch files.
_ND_FAMILIES = [
    "the quick brown fox jumps over the lazy dog near the riverbank {}",
    "spark catalyst rewrites declarative query plans into codegen stages {}",
    "parquet row groups carry min max statistics enabling file pruning {}",
]
_ND_SUFFIX = ["today", "again", "now"]

_nd_batches_st = st.lists(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),  # (family, suffix)
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=3,
).flatmap(
    lambda bs: st.permutations(range(1, sum(len(b) for b in bs) + 1)).map(
        lambda ids: (bs, list(ids))
    )
)


@settings(
    max_examples=4,  # each example drains a full streaming query
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(arrival=_nd_batches_st)
def test_near_dedup_stream_semantic_invariants(spark, arrival):
    """For ANY docs, ANY micro-batch split, and ANY id permutation, the
    drained near-dedup gate satisfies its contract: (a) every input doc
    is kept or has a KEPT near-dup partner (verified jaccard >= τ among
    banding candidates) — nothing silently vanishes; (b) no two KEPT
    docs that are banding candidates of each other verify at >= τ — the
    kept set is near-dup-free up to the LSH candidate structure."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.dedup import minhash_lsh_pairs
    from data_pipeline_challenge_spark.streaming.near_dedup_stream import (
        current_kept_docs,
        start_near_dedup_stream,
    )

    TAU = 0.5
    batches, ids = arrival
    SCHEMA = "doc_id long, text string"
    root = Path(tempfile.mkdtemp(prefix="nd_prop_"))
    try:
        corpus_dir = root / "corpus"
        corpus_dir.mkdir()
        it = iter(ids)
        import os as _os

        mtime = 1_700_000_000
        for i, batch in enumerate(batches):
            p = corpus_dir / f"b{i}.parquet"
            texts = [
                _ND_FAMILIES[f].format(_ND_SUFFIX[sx]) for f, sx in batch
            ]
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([next(it) for _ in batch], pa.int64()),
                        "text": pa.array(texts),
                    }
                ),
                str(p),
            )
            mtime += 10
            _os.utime(p, (mtime, mtime))
        q = start_near_dedup_stream(
            spark, corpus_dir, root / "near", root / "ckpt", SCHEMA,
            "doc_id", "text", min_jaccard=TAU, n_prefix=4,
            max_files_per_trigger=1,
        )
        q.awaitTermination(240)

        full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        kept = {
            r["doc_id"] for r in current_kept_docs(spark, root / "near").collect()
        }
        all_ids = {r["doc_id"] for r in full.collect()}
        dropped = all_ids - kept

        # All >= τ near-dup pairs over the whole corpus (batch operator).
        pairs = {
            (r["doc1"], r["doc2"])
            for r in minhash_lsh_pairs(
                full, "doc_id", "text", min_jaccard=TAU
            ).collect()
        }
        partners: dict[int, set[int]] = {}
        for a, b in pairs:
            partners.setdefault(a, set()).add(b)
            partners.setdefault(b, set()).add(a)

        # (a) every dropped doc has a kept near-dup partner
        for d in dropped:
            assert partners.get(d, set()) & kept, (d, kept, pairs)
        # (b) no kept pair verifies at >= τ
        for a, b in pairs:
            assert not (a in kept and b in kept), (a, b, kept)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-14 operator properties
# ---------------------------------------------------------------------------

_rank_lists_st = st.lists(
    st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=12,
             unique=True),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(lists=_rank_lists_st)
def test_rrf_fuse_matches_python_fold(spark_prop, lists):
    """rrf_fuse over arbitrary N candidate lists == the literal RRF
    definition folded in Python: score(id) = sum_i 1/(60 + rank_i(id)),
    missing membership contributing 0, additions in list order."""
    from data_pipeline_challenge_spark.operators.similarity import rrf_fuse

    spark = spark_prop
    ranked = [
        spark.createDataFrame(
            [(v, i + 1) for i, v in enumerate(ids)] or [(None, None)],
            "id long, r long",
        ).filter(F.col("id").isNotNull())
        for ids in lists
    ]
    got = {r["id"]: r["rrf_score"] for r in rrf_fuse(ranked).collect()}
    want = {}
    for i in {v for ids in lists for v in ids}:
        s = 0.0
        for ids in lists:
            s += 1.0 / (60.0 + ids.index(i) + 1) if i in ids else 0.0
        want[i] = s
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


_names_st = st.lists(
    st.text(alphabet="abcdef ", min_size=6, max_size=14).filter(
        lambda s: len(s) >= 6
    ),
    min_size=2,
    max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(names=_names_st)
def test_fuzzy_name_pairs_matches_bruteforce(spark_prop, names):
    """fuzzy_name_pairs (q-gram candidate filter + levenshtein verify)
    == the brute-force all-pairs answer, for arbitrary names at the
    operator's length floor — empirical confirmation that the gram
    filter never drops a true pair (its soundness bound in practice)."""
    from data_pipeline_challenge_spark.operators.dedup import fuzzy_name_pairs

    spark = spark_prop
    df = spark.createDataFrame([(n,) for n in names], "p_name string")
    got = {
        (r["name_a"], r["name_b"], r["dist"], r["n_a"], r["n_b"])
        for r in fuzzy_name_pairs(df, "p_name", max_dist=1, q=3).collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from collections import Counter

    counts = Counter(n for n in names if len(n) >= 6)
    uniq = sorted(counts)
    want = {
        (a, b, lev(a, b), counts[a], counts[b])
        for ai, a in enumerate(uniq)
        for b in uniq[ai + 1:]
        if lev(a, b) <= 1
    }
    assert got == want


# ---------------------------------------------------------------------------
# Round-15 operator properties
# ---------------------------------------------------------------------------

_schedule_st = st.lists(  # batches of (t_hour, user, type_idx)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=1, max_value=2),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(schedule=_schedule_st)
def test_resequenced_transition_matches_watermark_simulator(
    spark_prop, schedule, tmp_path_factory
):
    """Differential property: for ARBITRARY delivery schedules (any
    disorder, including events later than the delay), the resequenced
    transition fold must equal a pure-Python simulator of the watermark
    contract — an event is kept iff its time exceeds the released floor
    at its arrival (floor_b = max(floor_{b-1}, max_seen_b - delay)),
    and the matrix is the batch arithmetic over exactly the kept
    events in event-time order."""
    from data_pipeline_challenge_spark.streaming import transition_stream
    from data_pipeline_challenge_spark.streaming.resequence import reseq_fold

    spark = spark_prop
    H = 3_600_000_000
    DELAY = 3 * H
    tmp = tmp_path_factory.mktemp("reseq_prop")
    out = tmp / "trans"
    rdir = out / "reseq"
    types = ["view", "click", "buy"]

    def _fold(released, batch_id):
        transition_stream.fold_batch(
            spark, out, released.drop("t_us"), batch_id, sequential=False
        )

    # drive the folds directly (no stream machinery needed to test the
    # contract), assigning globally unique event ids by arrival order
    eid = 0
    batches = []
    for rows in schedule:
        b = []
        for t_h, user, ti in rows:
            eid += 1
            b.append((eid, t_h * H, user, types[ti]))
        batches.append(b)

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    for i, rows in enumerate(batches):
        from data_pipeline_challenge_spark.catalog import ntz_epoch_us

        df = spark.createDataFrame(
            [(e, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=t), u, ty)
             for e, t, u, ty in rows],
            schema,
        ).withColumn("t_us", ntz_epoch_us(F.col("ts")))  # the wrapper's derivation
        reseq_fold(spark, rdir, df, i, _fold, DELAY)
    transition_stream.flush_resequenced(spark, out)

    # pure-Python watermark simulator: which events survive?
    floor = None
    max_t = None
    kept = []
    for rows in batches:
        prev_floor = floor
        if rows:
            mt = max(t for _, t, _, _ in rows)
            max_t = mt if max_t is None else max(max_t, mt)
        for e, t, u, ty in rows:
            if prev_floor is None or t > prev_floor:
                kept.append((e, t, u, ty))
        if max_t is not None:
            wm = max_t - DELAY
            floor = wm if floor is None else max(floor, wm)

    want = _expected_r15_transitions(kept)
    report = transition_stream.transition_report(spark, out)
    got = (
        {}
        if report is None
        else {(r["cur"], r["nxt"]): (r["n"], r["prob"]) for r in report.collect()}
    )
    assert got == want


def _expected_r15_transitions(rows):
    """Batch-truth transition matrix from (event_id, t_us, user, type)."""
    from collections import Counter, defaultdict

    seqs = defaultdict(list)
    for eid, t, u, ty in sorted(rows, key=lambda r: (r[1], r[0])):
        seqs[u].append(ty)
    pairs = Counter()
    for s in seqs.values():
        for a, b in zip(s, s[1:]):
            pairs[(a, b)] += 1
    totals = Counter()
    for (a, _), n in pairs.items():
        totals[a] += n
    return {(a, b): (n, round(n / totals[a], 6)) for (a, b), n in pairs.items()}


_paths_schedule_st = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # hour (multi-day)
            st.integers(min_value=1, max_value=2),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(schedule=_paths_schedule_st)
def test_paths_twin_matches_python_fold(spark_prop, schedule, tmp_path_factory):
    """Differential property: for ARBITRARY delivery schedules (no
    watermark here — the prefix merge law is unconditional) the
    maintained paths report must equal the literal first-3-per-user-day
    path counting folded in Python over everything delivered."""
    from collections import Counter, defaultdict

    from data_pipeline_challenge_spark.streaming import paths_stream

    spark = spark_prop
    H = 3_600_000_000
    tmp = tmp_path_factory.mktemp("paths_prop")
    out = tmp / "paths"
    types = ["view", "click", "buy"]
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"

    eid = 0
    all_rows = []
    for i, rows in enumerate(schedule):
        b = []
        for t_h, user, ti in rows:
            eid += 1
            b.append((eid, t_h * H, user, types[ti]))
        all_rows += b
        df = spark.createDataFrame(
            [(e, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=t), u, ty)
             for e, t, u, ty in b] or [(None, None, None, None)],
            schema,
        ).filter(F.col("event_id").isNotNull())
        paths_stream.fold_batch(spark, out, df, i)

    by_ud = defaultdict(list)
    for e, t, u, ty in sorted(all_rows, key=lambda r: (r[1], r[0])):
        by_ud[(u, t // (24 * H))].append(ty)
    want = Counter(">".join(s[:3]) for s in by_ud.values())

    report = paths_stream.paths_report(spark, out)
    got = (
        Counter()
        if report is None
        else Counter({r["path"]: r["n_user_days"] for r in report.collect()})
    )
    assert got == want
