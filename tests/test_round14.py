"""Round-14 tests: VERDICT r13 worklist — the fused OOV plan (#1), the
jaccard_pairs shingle-cache leak (#3), the BPE oracle promotion (#2) —
and the ADVICE r13 items (JPEG entropy-word memory cap, ICO entry
fallback, BPE dead pre-explode filter)."""

import pytest
from conftest import SMALL_CORPUS
from pyspark.sql import functions as F


# ------------------------------------------------ VERDICT r13 #1: oov fusion


def test_oov_fused_matches_two_op_composition(spark, make_docs):
    """oov_rate_against_top must equal oov_rate(d, vocab_top_terms(d, k))
    row-for-row — the fusion is a plan change, not a semantics change."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import (
        oov_rate,
        oov_rate_against_top,
        vocab_top_terms,
    )

    d = make_docs(SMALL_CORPUS, start=1)
    for k in (3, 5, 100):
        old = {tuple(r) for r in oov_rate(d, vocab_top_terms(d, k=k)).collect()}
        new = {tuple(r) for r in oov_rate_against_top(d, k=k).collect()}
        assert new == old


def test_oov_fused_plan_reuses_corpus_exchange(spark, make_docs):
    """The point of the fusion: the vocab build and the probe side share
    ONE per-(doc, term) exchange. Pin the ReusedExchange node in the
    final adaptive plan (read through collect() on the SAME
    QueryExecution — df.write spawns a separate one that never runs,
    which false-aborted the first adjudication run)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.text import (
        oov_rate_against_top,
    )

    out = oov_rate_against_top(make_docs(SMALL_CORPUS, start=1), k=4)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1, plan


# --------------------------------------- VERDICT r13 #3: shingle cache leak


def test_jaccard_pairs_leaves_no_persistent_rdds(spark, make_docs):
    """jaccard_pairs' internal shingle table must not leak cached RDDs
    into the caller's session (the class of bug the r13 BPE fix closed:
    library ops own their storage). The shared-subtree dedup now rides
    ReuseExchange instead of a session-lifetime cache."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        jaccard_pairs,
    )

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    jaccard_pairs(make_docs(SMALL_CORPUS, start=1), n=2, threshold=0.1).collect()
    jaccard_pairs(
        make_docs(SMALL_CORPUS, start=1), n=2, threshold=0.1, max_doc_freq=3
    ).collect()
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_incremental_dedup_leaves_no_persistent_rdds(spark, make_docs):
    """Same contract for incremental_dedup, the other dedup entry point
    that cached internally: materialize the result, then the session's
    persistent-RDD set must be exactly as found."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        incremental_dedup,
    )

    base = make_docs(SMALL_CORPUS, start=1).filter(F.col("doc_id") <= 3)
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "an entirely novel document about spark plans"),
        ],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    incremental_dedup(new, base).collect()
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_incremental_dedup_cache_out_handle(spark, make_docs):
    """cache_out=[] is the opt-in: intermediates persist during the run
    and the CALLER releases them — after unpersisting every handle the
    session is clean again, and results match the cache-free default."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        incremental_dedup,
    )

    base = make_docs(SMALL_CORPUS, start=1).filter(F.col("doc_id") <= 3)
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "an entirely novel document about spark plans"),
        ],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    expected = {r["doc_id"] for r in incremental_dedup(new, base).collect()}
    handles: list = []
    got = {
        r["doc_id"]
        for r in incremental_dedup(new, base, cache_out=handles).collect()
    }
    assert got == expected
    assert len(handles) == 5
    for f in handles:
        f.unpersist()
    assert len(sc._jsc.getPersistentRDDs()) == before


# --------------------------------------- VERDICT r13 #2 / ADVICE r13 #3: BPE


def test_top_pair_handles_single_symbol_words(spark):
    """ADVICE r13: the >=2 size guard must run before the pair explode
    so a 1-symbol word contributes nothing (instead of building a
    descending sequence and null structs that survived only via
    missing-reference filter resolution)."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bpe import (
        _top_pair,
    )

    words = spark.createDataFrame(
        [(["x"], 100), (["a", "b"], 3), (["a", "b"], 2)],
        "syms array<string>, n long",
    )
    assert _top_pair(words) == ("a", "b", 5)
    only_single = spark.createDataFrame([(["x"], 9)], "syms array<string>, n long")
    assert _top_pair(only_single) is None


def test_bpe_query_matches_duckdb_replay(spark):
    """The r14 registry addition end-to-end at sf0.001: the Spark
    training loop and the unrolled double-delimiter SQL replay must
    agree merge for merge (rank, left, right, freq)."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = [
        (r["rank"], r["left"], r["right"], r["freq"])
        for r in entrymod.queries()["bpe_train_merges"](spark, sf).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(entrymod.oracle_sql()["bpe_train_merges"]).fetchall()
    assert got == [tuple(w) for w in want]
    assert len(got) == entrymod._BPE_MERGES_Q


def test_bpe_corpus_safe_for_delimiter_encoding():
    """ADVICE r14 #1: the double-delimiter oracle encoding is only
    equivalent to the Spark training loop when no document contains
    (a) chr(31) — the delimiter itself (it IS ASCII, so 'pure ASCII'
    alone excludes nothing), (b) a standalone '</w>' token — the
    end-of-word marker, or (c) chr(11) \\x0B — Java's \\s splits on
    vertical tab, DuckDB/RE2's \\s does not, so tokenization itself
    would diverge. Pin the invariant on every corpus the gate and the
    bench run against; if testdata ever regenerates with such bytes,
    this fails loudly instead of the hash gate red-flagging a correct
    implementation."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        bad = duckdb.sql(
            "SELECT count(*) FROM "
            f"read_parquet('/root/testdata/{sf}/documents.parquet') "
            "WHERE contains(text, chr(31)) OR contains(text, chr(11)) "
            "   OR len(list_filter(string_split_regex(text, '\\s+'), "
            "                      t -> t = '</w>')) > 0"
        ).fetchone()[0]
        assert bad == 0, f"{sf}: {bad} documents break the BPE oracle encoding"


# -------------------------------------------------- ADVICE r13 #1/#2: codecs


def test_ico_falls_back_to_next_entry_on_decode_failure():
    """ADVICE r13: an undecodable entry declared largest must not mask
    a decodable sibling — real icons often carry antique 1/4-bpp
    entries next to a good PNG/DIB, and directory dimensions lie."""
    import struct as st

    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.ico import (
        IcoUnsupported,
        decode_ico,
        encode_ico,
    )

    good = np.arange(64, dtype=np.uint8).reshape(8, 8)
    body_good = encode_ico(8, 8, 1, good.tobytes())[22:]
    # a 1-bpp BITMAPINFOHEADER DIB: structurally valid directory entry,
    # unsupported bpp inside (the embedded-BMP decoder rejects it)
    body_bad = st.pack(
        "<IiiHHIIiiII", 40, 32, 64, 1, 1, 0, 0, 0, 0, 2, 0
    ) + b"\x00" * (8 + 4 * 32)
    off_bad = 6 + 32
    off_good = off_bad + len(body_bad)
    ent = st.pack("<BBBBHHII", 32, 32, 0, 0, 1, 1, len(body_bad), off_bad)
    ent += st.pack("<BBBBHHII", 8, 8, 0, 0, 1, 8, len(body_good), off_good)
    two = b"\x00\x00\x01\x00\x02\x00" + ent + body_bad + body_good
    w, h, c, px = decode_ico(two)  # pre-fix: raised on the 1-bpp entry
    assert (w, h, c) == (8, 8, 1)
    assert np.frombuffer(px, np.uint8).reshape(8, 8).tolist() == good.tolist()
    # every entry bad -> raises (largest entry's reason)
    only_bad = b"\x00\x00\x01\x00\x01\x00" + st.pack(
        "<BBBBHHII", 32, 32, 0, 0, 1, 1, len(body_bad), 6 + 16
    ) + body_bad
    with pytest.raises(IcoUnsupported):
        decode_ico(only_bad)


def test_jpeg_ndarray_word_path_matches_list_path(monkeypatch):
    """ADVICE r13: segments past _W48_LIST_MAX keep the int64 ndarray
    (8 B/word) instead of a boxed-int list (~28 B/word). Force the
    ndarray path on ordinary fixtures and require bit-identical pixels."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import jpeg as J

    rng = np.random.default_rng(14)
    imgs = [
        rng.integers(0, 256, size=(24, 16), dtype=np.uint8) for _ in range(4)
    ]
    payloads = [J.encode_jpeg(16, 24, 1, g.tobytes()) for g in imgs]
    want = [J.decode_jpeg(p) for p in payloads]
    monkeypatch.setattr(J, "_W48_LIST_MAX", 0)
    got = [J.decode_jpeg(p) for p in payloads]
    assert got == want


def test_gif_lzw_base_tables_are_never_mutated():
    """The hoisted LZW root tables are shared across calls — decode a
    dictionary-heavy stream twice and require identical output (a
    decoder mutating the shared base would corrupt the second call),
    and pin the base objects' contents."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import _codec as C
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import gif as G

    snap_dec = {mc: list(t) for mc, t in C._LZW_DEC_BASE.items()}
    snap_enc = {mc: dict(t) for mc, t in C._LZW_ENC_BASE.items()}
    rng = np.random.default_rng(7)
    frame = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    p = G.encode_gif(32, 32, 1, frame.tobytes())
    first = G.decode_gif(p)
    second = G.decode_gif(p)
    assert first == second
    assert {mc: list(t) for mc, t in C._LZW_DEC_BASE.items()} == snap_dec
    assert {mc: dict(t) for mc, t in C._LZW_ENC_BASE.items()} == snap_enc


# ------------------------------------- VERDICT r13 #7: arrow bucket tiling


def test_arrow_bucket_scoring_tiles_identically(spark, monkeypatch):
    """_bucket_pairs_arrow past _ARROW_BLOCK rows computes the Gram
    matrix blockwise (bounded task memory under bucket skew — the r14
    tier probe's boilerplate fixture made one 8k bucket). Force tiny
    blocks and require the pair set identical to the monolithic path,
    including cross-block and diagonal-block pairs."""
    import numpy as np

    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
        similarity as S,
    )

    rng = np.random.default_rng(41)
    base = rng.standard_normal((40, 8))
    # a boilerplate cluster: rows 10..29 nearly identical (spans blocks)
    base[10:30] = base[10] + rng.standard_normal((20, 8)) * 1e-4
    df = spark.createDataFrame(
        [(int(i), base[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    pairs = lambda: sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in S.embed_neardup_pairs(
            df, threshold=0.9, dim=8, score="arrow", approx_count=40
        ).collect()
    )
    whole = pairs()
    # POSITIVE CONTROL first (the r10 serialization lesson): a sentinel
    # that must RAISE worker-side proves the monkeypatch reaches the
    # executors (nested closures capture module globals by value at
    # job-submission pickling) — otherwise tiled == whole is vacuous.
    monkeypatch.setattr(S, "_ARROW_BLOCK", 0)
    with pytest.raises(Exception):
        pairs()
    monkeypatch.setattr(S, "_ARROW_BLOCK", 7)  # force many ragged tiles
    tiled = pairs()
    assert tiled == whole
    assert len(whole) >= 20 * 19 / 2  # the cluster's pairs all present


# --------------------------------- r15 candidate: exact-substring REMOVAL


def _span_removal_oracle(texts, n, min_docs, keep_first):
    """Pure-Python replay of remove_duplicate_spans on normalized text."""
    import re

    norm = {
        i: [w for w in re.sub(r"\s+", " ", t.strip().lower()).split(" ") if w]
        for i, t in enumerate(texts)
    }
    span_docs: dict[tuple, set] = {}
    for i, toks in norm.items():
        for p in range(len(toks) - n + 1):
            span_docs.setdefault(tuple(toks[p : p + n]), set()).add(i)
    out = {}
    for i, toks in norm.items():
        covered = set()
        for p in range(len(toks) - n + 1):
            sp = tuple(toks[p : p + n])
            docs = span_docs[sp]
            if len(docs) < min_docs:
                continue
            if keep_first and i == min(docs):
                continue
            covered.update(range(p, p + n))
        kept = [t for q, t in enumerate(toks) if q not in covered]
        out[i] = (" ".join(kept), len(toks), len(covered))
    return out


@pytest.mark.parametrize("keep_first", [False, True])
def test_remove_duplicate_spans_matches_python_oracle(spark, keep_first):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        remove_duplicate_spans,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta",      # shares a 3-span with 1
        "x alpha beta gamma delta y z",                  # ... and with 3
        "totally unique words only here now",
        "alpha beta gamma delta epsilon something else",
        "",                                              # empty doc
        "short one",                                     # shorter than n
        "alpha beta gamma delta epsilon zeta eta",       # exact dup of 0
    ]
    n, min_docs = 3, 2
    want = _span_removal_oracle(texts, n, min_docs, keep_first)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans(
            df, n=n, min_docs=min_docs, keep_first=keep_first
        ).collect()
    }
    assert got == want
    # the full-duplicate pair must be gutted entirely when keep_first=False
    if not keep_first:
        assert got[0][0] == "" and got[6][0] == ""
    else:
        assert got[0][0] != "" and got[6][0] == ""


_SPAN_REMOVAL_ORACLE_SQL = """
WITH nrm AS (
  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ss
  FROM documents),
tk AS (
  SELECT doc_id, i, ss[i] AS tok
  FROM nrm, unnest(range(1, len(ss) + 1)) t(i)
  WHERE ss[i] <> ''),
sp AS (
  SELECT doc_id, i AS p, array_to_string(list_slice(ss, i, i + {n} - 1), ' ') AS s
  FROM nrm, unnest(range(1, len(ss) - {n} + 2)) t(i)
  WHERE len(ss) >= {n} AND ss[1] <> ''),
dup AS (
  SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= {min_docs}),
cov AS (
  SELECT DISTINCT sp.doc_id, u.cpos
  FROM sp JOIN dup USING (s), unnest(range(sp.p, sp.p + {n})) u(cpos)),
reb AS (
  SELECT tk.doc_id,
         coalesce(string_agg(CASE WHEN cov.cpos IS NULL THEN tk.tok END,
                             ' ' ORDER BY tk.i), '') AS text_clean,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN cov.cpos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.i = cov.cpos
  GROUP BY 1)
SELECT d.doc_id, coalesce(text_clean, '') AS text_clean,
       coalesce(n_tokens, 0) AS n_tokens, coalesce(n_removed, 0) AS n_removed
FROM documents d LEFT JOIN reb USING (doc_id)
"""


def test_remove_duplicate_spans_matches_duckdb_replay(spark):
    """Cross-engine check on the real sf0.001 corpus: the SQL above is
    the validated oracle for the r15 registry promotion (the registry
    is frozen at 117 this round, so it ships as a test — the r13 BPE
    pattern). Span identity keys on the span STRING in SQL vs the
    60-bit md5 in Spark: equivalent absent md5 collisions, the same
    contract every shingle oracle already relies on."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import (
        remove_duplicate_spans,
    )

    d = entrymod.T(spark, sf, "documents")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans(d, n=13, min_docs=2).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            _SPAN_REMOVAL_ORACLE_SQL.format(n=13, min_docs=2)
        ).fetchall()
    }
    assert got == want
