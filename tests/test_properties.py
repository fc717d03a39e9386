"""Property-based tests (hypothesis) for the engine's core invariant:
incremental MERGE over arbitrary batch splits ≡ one full build.

Kept deliberately small (Spark jobs per example are expensive): the
generator drives key overlaps across batches, keys that move partition
between batches, and partitioned vs unpartitioned targets — exactly the
surfaces where delete+insert vs MERGE semantics can diverge
(SURVEY §7.6)."""

from datetime import date, timedelta

from hypothesis import example, given, settings, strategies as st

from dbt_incremental_ci_spark.incremental.merge import incremental_upsert

ROW = st.tuples(
    st.integers(min_value=1, max_value=12),         # unique key (forced overlaps)
    st.integers(min_value=0, max_value=30),         # day offset (watermark col)
    st.one_of(st.none(), st.integers(0, 2)),        # partition (NULL too): a key may move
    st.text(alphabet="abcde", min_size=1, max_size=3),
)


def _batch(min_size):
    return st.lists(ROW, min_size=min_size, max_size=12, unique_by=lambda r: r[0])


@settings(max_examples=8, deadline=None)
@given(
    b1=_batch(1),
    b2=_batch(0),
    partition_by=st.sampled_from([None, ["p"]]),
)
# a merge into the NULL (Hive default) partition keeps the rows there
@example(
    b1=[(1, 0, None, "a"), (2, 0, None, "b"), (3, 0, 0, "c")],
    b2=[(4, 1, None, "d")],
    partition_by=["p"],
)
@example(b1=[(1, 0, 1, "a")], b2=[], partition_by=["p"])  # empty rewrite set
def test_incremental_merge_equals_full_build(spark, b1, b2, partition_by):
    spark.sql("CREATE DATABASE IF NOT EXISTS t_prop")
    base = date(2024, 1, 1)

    def mk(batch):
        return spark.createDataFrame(
            [(k, base + timedelta(days=d), p, v) for k, d, p, v in batch],
            "id int, d date, p int, val string",
        )

    def rows(table):
        return sorted(
            tuple(r) for r in spark.table(table).select("id", "d", "p", "val").collect()
        )

    # keys are unique within a batch; the later batch replaces a key
    final = list(({r[0]: r for r in b1} | {r[0]: r for r in b2}).values())

    spark.sql("DROP TABLE IF EXISTS t_prop.inc")
    for batch in (b1, b2):  # an empty second batch merges too
        incremental_upsert(
            spark, "t_prop.inc", mk(batch), unique_key="id", partition_by=partition_by
        )

    spark.sql("DROP TABLE IF EXISTS t_prop.full")
    incremental_upsert(
        spark, "t_prop.full", mk(final), unique_key="id", partition_by=partition_by
    )

    expected = sorted((k, base + timedelta(days=d), p, v) for k, d, p, v in final)
    assert rows("t_prop.full") == expected
    assert rows("t_prop.inc") == expected


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            min_size=0,
            max_size=500,
        ),
        min_size=1,
        max_size=8,
    ),
    size=st.integers(min_value=1, max_value=97),
)
def test_chunks_reassemble_exactly(spark, texts, size):
    """Chunking invariants for ANY size: concatenating a doc's chunks in
    index order reproduces the document byte-for-byte; every chunk but
    the last is exactly `size` chars; n_chunks is consistent."""
    from dbt_incremental_ci_spark.operators import chunking

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = chunking.chunk_text(df, "id", "text", size=size).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    for i, txt in enumerate(texts):
        if not txt:
            assert i not in by_id
            continue
        got = sorted(by_id[i], key=lambda r: r["chunk_idx"])
        assert "".join(r["chunk"] for r in got) == txt
        assert all(len(r["chunk"]) == size for r in got[:-1])
        expected_n = (len(txt) + size - 1) // size
        assert {r["n_chunks"] for r in got} == {expected_n}
        assert len(got) == expected_n
