"""Training-data pipeline operators: dedup, text analysis, similarity search.

First-class components for a 100 TB corpus engine (per the build brief):
exact dedup, MinHash+LSH banding, n-gram Jaccard, SimHash hamming pairs,
language-ID heuristic, quality scoring, token counting, rolling-hash
fingerprints, and exact brute-force cosine top-k over embeddings (the ANN
baseline; the LSH-banded variant shares the band-bucket machinery).

Every query is paired with a DuckDB oracle. Exactness discipline: token ids
are portable per-token char-rolling hashes (no vocabulary, no global
ordering), every hash is integer arithmetic mod 2³¹,
embeddings are quantized to int64 (round(x·10⁶)) before any arithmetic, and
doubles appear only as final exact-operand divisions — so both engines agree
bit-for-bit regardless of parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import read_parquet, read_parquet_dense

P31 = 2147483647  # Mersenne prime 2^31-1 for minhash
M31 = 2147483648  # 2^31 modulus for fingerprints

# 8 minhash functions (literal constants, embedded identically in SQL)
MINHASH_AB = [
    (1103515245, 12345),
    (1588635695, 54321),
    (784588716, 987654),
    (367003629, 111111),
    (885157397, 222222),
    (1294968135, 333333),
    (521595368, 444444),
    (947263125, 555555),
]
N_BANDS, ROWS_PER_BAND = 4, 2

STOP_EN = ("the", "a", "of", "to", "and", "is")

# whitespace tokenization of the `text` column as ONE parsed expression —
# the Python-lambda form (F.filter(F.split(...), lambda ...)) costs ~40
# py4j round-trips per use and query builders re-run every bench rep
_TOKS_EXPR = "filter(split(text, ' '), t -> t != '')"


def _toks_col():
    return F.expr(_TOKS_EXPR)


def _docs(spark: SparkSession, sf_dir: str, dense: bool = True) -> DataFrame:
    # dense reader where the consumer's first stage is CPU-dense (repeated
    # HOF folds, per-doc top-k, sketch loops); consumers whose map stage is
    # a single split/explode feeding a map-combined aggregate pass
    # ``dense=False`` — for them the spread's extra exchange LOSES
    # (measured 9/9 interleaved A/B pairs: vocab_heavy_hitters 0.42→0.31 s,
    # corpus_filter 0.53→0.41, bigram_pmi 0.51→0.36 steady-state)
    reader = read_parquet_dense if dense else read_parquet
    return reader(spark, f"{sf_dir}/documents.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, token) — whitespace tokenization, empties dropped."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .filter(F.col("token") != "")
    )


_TOKENS_CTE = """toks AS (
  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
         unnest(string_split(text, ' ')) AS token
  FROM documents
), tokens AS (SELECT * FROM toks WHERE token <> '')"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1"""


# ---------------------------------------------------------------------------
# text quality / language id / token counting / fingerprint
# ---------------------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    stop_hits = F.filter(toks, lambda t: t.isin(*STOP_EN))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias(
            "sum_token_len"
        ),
        F.size(stop_hits).alias("n_stopwords"),
        (
            F.size(stop_hits).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("stopword_ratio"),
    )


_STOP_LIST = ", ".join(f"'{s}'" for s in STOP_EN)
SQL_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id, n_chars,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))),
              (a, b) -> a + b) AS sum_token_len,
  CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS INTEGER) AS n_stopwords,
  CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
FROM t"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language heuristic: en vs fr evidence counts."""
    fr = ("le", "la", "de", "et", "un")
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    en_hits = F.size(F.filter(toks, lambda t: t.isin(*STOP_EN)))
    fr_hits = F.size(F.filter(toks, lambda t: t.isin(*fr)))
    return d.select(
        "doc_id",
        en_hits.alias("en_hits"),
        fr_hits.alias("fr_hits"),
        F.when(en_hits >= fr_hits, "en").otherwise("fr").alias("lang_guess"),
    )


_FR_LIST = ", ".join(f"'{s}'" for s in ("le", "la", "de", "et", "un"))
SQL_LANG_ID = f"""
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)
SELECT doc_id,
  CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS INTEGER) AS en_hits,
  CAST(len(list_filter(toks, x -> x IN ({_FR_LIST}))) AS INTEGER) AS fr_hits,
  CASE WHEN len(list_filter(toks, x -> x IN ({_STOP_LIST})))
         >= len(list_filter(toks, x -> x IN ({_FR_LIST}))) THEN 'en' ELSE 'fr' END AS lang_guess
FROM t"""


def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: alpha runs + digit runs + punctuation marks."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("n_alpha"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_num"),
        F.size(F.regexp_extract_all("text", F.lit("[.,;:!?]"), 0)).alias("n_punct"),
    )


SQL_TOKEN_COUNT = """
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num,
  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct
FROM documents"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash over tokens (document fingerprinting):
    acc = (acc·131 + code(token)) mod 2³¹, code = len·31 + ascii(first)."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    code = lambda t: (F.length(t).cast("long") * 31 + F.ascii(t).cast("long"))
    return d.select(
        "doc_id",
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: (a * 131 + code(t)) % M31
        ).alias("fingerprint"),
    )


SQL_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(toks, x -> CAST(length(x) * 31 + ascii(x) AS BIGINT))),
    (a, b) -> (a * 131 + b) % {M31}) AS fingerprint
FROM t"""


# context-window chunking: W-token windows advancing by S = W − O (overlap O);
# at most CHUNK_MAX chunks per document (embedded in the oracle's range() join
# and enforced engine-side by a least() — docs past ~98k tokens truncate
# identically in both engines)
CHUNK_W, CHUNK_O, CHUNK_MAX = 32, 8, 4096
_CHUNK_S = CHUNK_W - CHUNK_O


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the doc→training-sample splitter of a RAG /
    pretraining pipeline: each document becomes overlapping ``CHUNK_W``-token
    windows advancing by ``CHUNK_W − CHUNK_O`` tokens (the tail window may
    be short; a ≤W-token doc is exactly one window).  Emits per chunk the
    exact token span plus an order-sensitive rolling fingerprint, so chunk
    identity is verifiable without shipping the token arrays.

    Scale shape: pure Catalyst — tokens from one split, the window index
    from ``sequence``/``explode`` (the number of windows is a closed-form
    integer, no window function), per-chunk stats from higher-order array
    functions over ``slice``.  Map-only until any downstream aggregation;
    the explode factor is bounded by doc length / S."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    code = lambda t: (F.length(t).cast("long") * 31 + F.ascii(t).cast("long"))
    base = d.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
    )
    # chunks per doc are capped at CHUNK_MAX on BOTH sides (the oracle joins
    # range(0, CHUNK_MAX)); without the engine-side least() a document longer
    # than CHUNK_W + (CHUNK_MAX-1)·S ≈ 98k tokens would keep tail chunks only
    # on the Spark side, breaking parity (ADVICE r5). The cap is the
    # documented max-doc-length contract of this splitter.
    nc = F.least(
        F.lit(CHUNK_MAX).cast("long"),
        F.when(F.col("n") <= CHUNK_W, F.lit(1))
        .otherwise(F.expr(f"(n - {CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S} + 1"))
        .cast("long"),
    )
    chunks = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), nc - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * _CHUNK_S).alias("start_tok"),
        F.least(F.lit(CHUNK_W), F.col("n") - F.col("chunk_id") * _CHUNK_S).alias(
            "len_toks"
        ),
        "toks",
    )
    sl = F.slice("toks", F.col("start_tok") + 1, F.col("len_toks"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.col("len_toks").cast("long").alias("len_toks"),
        F.aggregate(sl, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias(
            "sum_chars"
        ),
        F.aggregate(
            sl, F.lit(0).cast("long"), lambda a, t: (a * 131 + code(t)) % M31
        ).alias("chunk_fp"),
        F.when(
            F.col("len_toks") > 0,
            F.element_at("toks", (F.col("start_tok") + 1).cast("int")),
        ).alias("first_tok"),
        F.when(
            F.col("len_toks") > 0,
            F.element_at(
                "toks", (F.col("start_tok") + F.col("len_toks")).cast("int")
            ),
        ).alias("last_tok"),
    )


SQL_DOC_CHUNK_WINDOWS = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
c AS (
  SELECT b.doc_id, b.toks, b.n, r.i AS chunk_id
  FROM b JOIN range(0, {CHUNK_MAX}) r(i)
    ON r.i < CASE WHEN b.n <= {CHUNK_W} THEN 1
                  ELSE (b.n - {CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S} + 1 END),
s AS (
  SELECT doc_id, chunk_id, chunk_id * {_CHUNK_S} AS start_tok,
         least({CHUNK_W}, n - chunk_id * {_CHUNK_S}) AS len_toks,
         toks[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S}
              + least({CHUNK_W}, n - chunk_id * {_CHUNK_S})] AS sl,
         toks
  FROM c)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(len_toks AS BIGINT) AS len_toks,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(sl, x -> CAST(length(x) AS BIGINT))),
              (a, b) -> a + b) AS sum_chars,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(sl, x -> CAST(length(x) * 31 + ascii(x) AS BIGINT))),
              (a, b) -> (a * 131 + b) % {M31}) AS chunk_fp,
  CASE WHEN len_toks > 0 THEN toks[start_tok + 1] END AS first_tok,
  CASE WHEN len_toks > 0 THEN toks[start_tok + len_toks] END AS last_tok
FROM s"""


# ---------------------------------------------------------------------------
# token ids + shingles (shared by minhash / jaccard / simhash)
#
# Token ids are a portable per-token character rolling hash computed inline —
# NO global vocabulary. (Round 1 used a dense-rank vocab whose
# Window.orderBy("token") funneled the whole distinct-token set through one
# task — a 100 TB scale-killer flagged by VERDICT.md. The char hash needs no
# shuffle at all and both engines compute it bit-identically.)
# ---------------------------------------------------------------------------

HMUL = 1000003  # shingle-combine multiplier (fits int64: 2^31 * 1e6 < 2^62)


def _tid_expr(expr: str = "token") -> str:
    """Spark-SQL text of the portable string hash (see :func:`_tid_col`)."""
    return (
        f"aggregate(filter(split({expr}, ''), c -> c != ''), CAST(0 AS BIGINT), "
        f"(a, c) -> (a * 131 + CAST(ascii(c) AS BIGINT)) % {M31})"
    )


def _tid_col(token: str):
    """Portable string hash: fold chars as (acc·131 + codepoint) mod 2³¹.
    ``token`` is any string SQL expression text (tokens here; md5 hex
    digests in the KMV sketch, queries_relational.py). One ``F.expr``
    parse — the Python-lambda HOF builder cost ~80 py4j round-trips per
    call (round 6)."""
    return F.expr(_tid_expr(token))


def _tid_sql(expr: str = "token") -> str:
    """DuckDB twin of :func:`_tid_col` over an arbitrary string SQL expr."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split({expr}, ''), c -> c <> ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 131 + b) % {M31})"
    )


_TID_SQL = _tid_sql()


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, code) 3-gram shingle codes folded from token hashes:
    code = ((h1·HMUL + h2) mod 2³¹ · HMUL + h3) mod 2³¹."""
    toks = _tokens(spark, sf_dir).withColumn("tid", _tid_col("token"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("t2", F.lead("tid", 1).over(w))
        .withColumn("t3", F.lead("tid", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            "doc_id",
            (
                (((F.col("tid") * HMUL + F.col("t2")) % M31) * HMUL + F.col("t3")) % M31
            ).alias("code"),
        )
    )


_SHINGLES_CTE = f"""{_TOKENS_CTE},
tid AS (
  SELECT doc_id, pos, {_TID_SQL} AS tid FROM tokens),
tri AS (
  SELECT doc_id, tid,
         lead(tid, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
         lead(tid, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
  FROM tid),
shingles AS (
  SELECT doc_id, (((tid * {HMUL} + t2) % {M31}) * {HMUL} + t3) % {M31} AS code
  FROM tri WHERE t3 IS NOT NULL)"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + LSH banding → candidate duplicate pairs.

    Scale path: band keys are shuffle keys (docs sharing a band bucket meet in
    one partition) — no all-pairs comparison ever materializes."""
    sh = _shingles(spark, sf_dir)
    # SQL-string forms (round 6): one parse instead of ~100 py4j calls per
    # construction; identical expression trees (oracle-paired values)
    aggs = [
        F.expr(f"min((code * {a} + {b}) % {P31}) AS mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    band_exprs = ", ".join(
        "concat_ws(':', '{bi}', {cols})".format(
            bi=bi,
            cols=", ".join(
                f"CAST(mh{bi * ROWS_PER_BAND + r} AS STRING)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for bi in range(N_BANDS)
    )
    bands = sig.select(
        "doc_id",
        F.explode(F.expr(f"array({band_exprs})")).alias("band_key"),
    )
    # SHUFFLE_HASH, not broadcast: Catalyst's size estimate puts the bands
    # frame under the broadcast threshold at bench scales, but a broadcast
    # self-join (a) serializes the whole signature pipeline into a driver-side
    # hashed-relation build and (b) recomputes that pipeline for the probe
    # side — flat N→4N scaling, and a non-starter when the corpus is the fact
    # table. A shuffle join on the band key is the 100 TB plan, and because
    # both sides are canonically identical, ReuseExchange computes the
    # signatures ONCE and reads the shuffle twice.
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b")
    return (
        a.join(b, "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def _sql_minhash() -> str:
    mh_cols = ", ".join(
        f"min((code * {a} + {b}) % {P31}) AS mh{i}" for i, (a, b) in enumerate(MINHASH_AB)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, CAST({bi} AS VARCHAR) || ':' || ".format(bi=bi)
        + " || ':' || ".join(
            f"CAST(mh{bi * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        + " AS band_key FROM sig"
        for bi in range(N_BANDS)
    )
    return f"""
WITH {_SHINGLES_CTE},
sig AS (SELECT doc_id, {mh_cols} FROM shingles GROUP BY doc_id),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM bands a JOIN bands b USING (band_key)
WHERE a.doc_id < b.doc_id"""


SQL_MINHASH_LSH = _sql_minhash()


JACCARD_DF_CAP = 64  # drop shingles shared by > this many docs (hot-key guard)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.5 via shingle inverted index (integer-exact
    threshold test: 2·|∩| ≥ |∪|) over DF-capped shingle sets.

    Scale guard: a shingle shared by M docs fans out M² candidate rows in the
    self-join; real dedup pipelines drop such stop-shingles. We filter
    document frequency > JACCARD_DF_CAP *before* both the size and the
    intersection computation (so Jaccard stays exact on the capped sets), and
    the oracle applies the identical rule."""
    sh = _shingles(spark, sf_dir).distinct()
    keep = (
        sh.groupBy("code")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= JACCARD_DF_CAP)
        .select("code")
    )
    sh = sh.join(keep, "code")  # same shuffle key as the self-join below
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # shuffle_hash: the inverted-index self-join must never broadcast the
    # corpus-sized posting list (see q_minhash_lsh_pairs rationale)
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b")
    inter = (
        a.join(b, "code")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
        .filter(F.col("n_inter") * 2 >= F.col("sz1") + F.col("sz2") - F.col("n_inter"))
        .select(
            "d1", "d2", "n_inter", "sz1", "sz2",
            (
                F.col("n_inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


SQL_NGRAM_JACCARD = f"""
WITH {_SHINGLES_CTE},
ds0 AS (SELECT DISTINCT doc_id, code FROM shingles),
keep AS (SELECT code FROM ds0 GROUP BY code HAVING count(*) <= {JACCARD_DF_CAP}),
ds AS (SELECT ds0.* FROM ds0 JOIN keep USING (code)),
sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
  FROM ds a JOIN ds b USING (code) WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT d1, d2, n_inter, s1.sz AS sz1, s2.sz AS sz2,
       CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE) AS jaccard
FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE n_inter * 2 >= s1.sz + s2.sz - n_inter"""


# 60-bit simhash: 4 bands × 15 bits; hamming ≤ 3 ⇒ ≥1 band equal. 60 (not
# the textbook 64) keeps every signature and band value in POSITIVE int64
# range, so band extraction is plain arithmetic shift/div in both engines
# (no unsigned-shift portability trap). Band cardinality 2^15 is what makes
# the pigeonhole join scale: with the old 16-bit/4-bit-band signature each
# band had 16 buckets, so candidates grew ~n²/16 — a near-crossJoin that
# cost 4-5 s on 5 k docs and would topple any real corpus.
SIMHASH_BITS, SIMHASH_BANDS = 60, 4
_SH_M30 = 1 << 30
_SH_A1, _SH_B1 = 2654435761, 97
_SH_A2, _SH_B2 = 1779033703, 911


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over token hashes; near-dup pairs at hamming ≤ 3.

    Scale path (pigeonhole band join, VERDICT.md round-1 fix): the signature
    is split into 4 disjoint 15-bit bands — any pair at hamming ≤ 3 differs in
    at most 3 bands, so it agrees on ≥1 band exactly. Candidates come from an
    equi-join on (band_idx, band_val) — the band key is the shuffle key, no
    all-pairs crossJoin ever materializes — then exact hamming verifies.
    Result set is identical to the brute-force form (the oracle)."""
    tid = (
        _tokens(spark, sf_dir)
        .select("doc_id", _tid_col("token").alias("t0"))
        .select(
            "doc_id",
            (
                (F.col("t0") * _SH_A1 + _SH_B1) % _SH_M30
                + ((F.col("t0") * _SH_A2 + _SH_B2) % _SH_M30) * _SH_M30
            ).alias("h"),
        )
    )
    # per-bit majority via plain aggregates: contrib sum for bit b is
    # Σ(±1) = 2·(#tokens with bit set) − n, so 16 sums of (h>>b)&1 plus one
    # count replace the previous 16× bit-explode + (doc_id, bit) groupBy —
    # one map-side-combined shuffle instead of two over a 16×-inflated frame.
    # Built as ONE parameterized spark.sql parse (round 6): the 60-agg +
    # 60-term-majority Column chain cost ~0.9 s of py4j round-trips PER
    # CONSTRUCTION (paid every bench rep); even as 61 separate F.expr
    # calls it still paid ~200 py4j round-trips. A single sql() call
    # builds the identical expression tree (~3 ms).
    sums = ", ".join(
        f"sum(shiftright(h, {b}) & 1) AS c{b}" for b in range(SIMHASH_BITS)
    )
    majority = " + ".join(
        f"IF(c{b} * 2 > n, CAST({1 << b} AS BIGINT), CAST(0 AS BIGINT))"
        for b in range(SIMHASH_BITS)
    )
    sig = spark.sql(
        f"SELECT doc_id, CAST({majority} AS BIGINT) AS simhash FROM "
        f"(SELECT doc_id, count(*) AS n, {sums} FROM {{tid}} GROUP BY doc_id)",
        tid=tid,
    )
    width = SIMHASH_BITS // SIMHASH_BANDS
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "array("
                + ", ".join(
                    f"shiftright(simhash, {width * i}) & {(1 << width) - 1}"
                    for i in range(SIMHASH_BANDS)
                )
                + ")"
            )
        ).alias("band_idx", "band_val"),
    )
    # shuffle_hash for the same reason as q_minhash_lsh_pairs: never broadcast
    # a corpus-sized band frame; ReuseExchange computes the signatures once.
    # Verify (hamming ≤ 3) BEFORE the dedup — shrinks the distinct; one
    # sql() parse for the whole tail (round 6, same tree as the Column form)
    return spark.sql(
        "SELECT d1, d2, hamming, sim1, sim2 FROM ("
        " SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,"
        "        CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming,"
        "        a.simhash AS sim1, b.simhash AS sim2"
        " FROM {bands_a} a JOIN {bands_b} b"
        "   ON a.band_idx = b.band_idx AND a.band_val = b.band_val"
        "   AND a.doc_id < b.doc_id"
        " WHERE bit_count(a.simhash ^ b.simhash) <= 3)",
        bands_a=bands.hint("shuffle_hash"),  # hinted LEFT → BuildLeft, as before
        bands_b=bands,
    )


# oracle: brute-force O(n²) form — fine at oracle scale, identical result set
SQL_SIMHASH = f"""
WITH {_TOKENS_CTE},
tid AS (SELECT doc_id,
          ({_TID_SQL} * {_SH_A1} + {_SH_B1}) % {_SH_M30}
          + (({_TID_SQL} * {_SH_A2} + {_SH_B2}) % {_SH_M30}) * {_SH_M30} AS h
        FROM tokens),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN (h // (CAST(1 AS BIGINT) << b.bit)) % 2 = 1 THEN 1 ELSE -1 END AS contrib
  FROM tid, range(0, {SIMHASH_BITS}) b(bit)),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) ELSE 0 END
                  * (CAST(1 AS BIGINT) << bit)) AS BIGINT) AS simhash
  FROM (SELECT doc_id, bit, sum(contrib) AS s FROM bits GROUP BY doc_id, bit)
  GROUP BY doc_id)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
       a.simhash AS sim1, b.simhash AS sim2
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


# ---------------------------------------------------------------------------
# similarity search over embeddings (ANN baseline: exact cosine top-k)
# ---------------------------------------------------------------------------

TOPK = 10
QSCALE = 1_000_000


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet_dense(spark, f"{sf_dir}/embeddings.parquet")
    return e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * QSCALE).cast("long")
        ).alias("q"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (the ANN ground-truth baseline) via the
    vectorized matmul kernel (operators/similarity.py) — identical results to
    the Column-form implementation below and the SQL oracle."""
    from .operators import similarity

    e = read_parquet_dense(spark, f"{sf_dir}/embeddings.parquet")
    qv = similarity.quantize(e)
    return similarity.cosine_topk(qv, qv, k=TOPK)


def q_embedding_topk_columnar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-form (zip_with/aggregate) variant — JVM-side, used for small
    candidate sets after a bucket join; kept as a second exact path."""
    qv = _quantized(spark, sf_dir)
    a = qv.select(
        F.col("vec_id"), F.col("q"),
        F.aggregate(F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x)
        .alias("n2"),
    )
    b = (
        a.select(
            F.col("vec_id").alias("other_id"), F.col("q").alias("qb"), F.col("n2").alias("n2b")
        )
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("vec_id") != F.col("other_id"))
    from .operators.similarity import quantized_cosine

    cos = quantized_cosine(qa="q", n2a="n2")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "other_id")
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("vec_id", "rank", "other_id", "cos")
    )


SQL_EMBEDDING_TOPK = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, x -> x * x)), (a,b) -> a+b) AS n2
  FROM q),
flat AS (
  SELECT vec_id, n2, unnest(q) AS qi, generate_subscripts(q, 1) AS i FROM n),
dots AS (
  SELECT a.vec_id, b.vec_id AS other_id, sum(a.qi * b.qi) AS dot,
         any_value(a.n2) AS n2a, any_value(b.n2) AS n2b
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT vec_id, other_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) AS cos
  FROM dots),
ranked AS (
  SELECT vec_id, other_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, other_id) AS rank
  FROM scored)
SELECT vec_id, rank, other_id, cos FROM ranked WHERE rank <= {TOPK}"""


def q_embedding_label_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label agreement: majority label among top-10 cosine neighbors."""
    topk = q_embedding_topk(spark, sf_dir)
    labels = read_parquet_dense(spark, f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("other_id"), F.col("label").alias("nbr_label")
    )
    return (
        topk.join(F.broadcast(labels), "other_id")
        .groupBy("vec_id", "nbr_label")
        .agg(F.count("*").alias("votes"))
    )


SQL_EMBEDDING_LABEL_KNN = f"""
WITH topk AS ({SQL_EMBEDDING_TOPK})
SELECT t.vec_id, e.label AS nbr_label, count(*) AS votes
FROM topk t JOIN embeddings e ON e.vec_id = t.other_id
GROUP BY t.vec_id, e.label"""


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH bucket join (scale path).

    Fully oracle-paired (round-2 upgrade): the hyperplanes are an integer
    lattice and bucket ids are signs of exact int64 dot products, so DuckDB
    regenerates the identical candidate set AND the identical exact-cosine
    rescoring — approximation lives in the operator's *definition*, not in
    any engine nondeterminism."""
    from .operators import similarity

    e = read_parquet_dense(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.lsh_topk(e, k=TOPK)


def _sql_ann_lsh() -> str:
    from .operators.similarity import N_PLANES, N_TABLES, _PLANE_SALT

    d = 64  # embedding dim in the driver tables
    add = _PLANE_SALT * 40503 + 12345
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, x -> x * x)), (a,b) -> a+b) AS n2
  FROM q),
flat AS (
  SELECT vec_id, n2, unnest(q) AS qi, generate_subscripts(q, 1) - 1 AS i FROM n),
planes AS (
  SELECT t.t, p.p, i.i,
         ((CAST(t.t * {N_PLANES * d} + p.p * {d} + i.i AS BIGINT) * 2654435761 + {add})
          % 2147483648) - 1073741824 AS w
  FROM range(0, {N_TABLES}) t(t), range(0, {N_PLANES}) p(p), range(0, {d}) i(i)),
dots AS (
  SELECT f.vec_id, pl.t, pl.p, sum(f.qi * pl.w) AS s
  FROM flat f JOIN planes pl ON pl.i = f.i
  GROUP BY f.vec_id, pl.t, pl.p),
buckets AS (
  SELECT vec_id, t, CAST(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS other_id
  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id),
pair_dots AS (
  SELECT c.vec_id, c.other_id, sum(fa.qi * fb.qi) AS dot,
         any_value(fa.n2) AS n2a, any_value(fb.n2) AS n2b
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.vec_id
  JOIN flat fb ON fb.vec_id = c.other_id AND fb.i = fa.i
  GROUP BY c.vec_id, c.other_id),
ranked AS (
  SELECT vec_id, other_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) AS cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) DESC,
                                     other_id) AS rank
  FROM pair_dots)
SELECT vec_id, rank, other_id, cos FROM ranked WHERE rank <= {TOPK}"""


SQL_ANN_LSH = _sql_ann_lsh()


def q_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF inverted lists (second scale path, FAISS
    IVF-Flat shape): nearest-centroid home cells + nprobe multi-probe,
    exact cosine rescoring. Deterministic integer coarse quantizer, so
    DuckDB regenerates the identical cells, candidates, and scores."""
    from .operators import similarity

    e = read_parquet_dense(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_topk(e, k=TOPK)


def _sql_ann_ivf() -> str:
    from .operators.similarity import IVF_CELLS, IVF_NPROBE, _IVF_HALF, _IVF_SALT

    d = 64  # embedding dim in the driver tables
    add = _IVF_SALT * 40503 + 12345
    span = 2 * _IVF_HALF
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, x -> x * x)), (a,b) -> a+b) AS n2
  FROM q),
flat AS (
  SELECT vec_id, n2, unnest(q) AS qi, generate_subscripts(q, 1) - 1 AS i FROM n),
cents AS (
  SELECT t.t, i.i,
         ((CAST(t.t * {d} + i.i AS BIGINT) * 2654435761 + {add})
          % 2147483648) % {span} - {_IVF_HALF} AS w
  FROM range(0, {IVF_CELLS}) t(t), range(0, {d}) i(i)),
cn AS (SELECT t, sum(w * w) AS n2c FROM cents GROUP BY t),
cdist AS (
  SELECT f.vec_id, c.t, any_value(cn.n2c) - 2 * sum(f.qi * c.w) AS score
  FROM flat f JOIN cents c ON c.i = f.i JOIN cn ON cn.t = c.t
  GROUP BY f.vec_id, c.t),
probes AS (
  SELECT vec_id, t AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY score, t) AS pr
  FROM cdist),
home AS (SELECT vec_id, cell FROM probes WHERE pr = 1),
cand AS (
  SELECT p.vec_id, h.vec_id AS other_id
  FROM probes p JOIN home h ON h.cell = p.cell AND h.vec_id <> p.vec_id
  WHERE p.pr <= {IVF_NPROBE}),
pair_dots AS (
  SELECT c.vec_id, c.other_id, sum(fa.qi * fb.qi) AS dot,
         any_value(fa.n2) AS n2a, any_value(fb.n2) AS n2b
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.vec_id
  JOIN flat fb ON fb.vec_id = c.other_id AND fb.i = fa.i
  GROUP BY c.vec_id, c.other_id),
ranked AS (
  SELECT vec_id, other_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) AS cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) DESC,
                                     other_id) AS rank
  FROM pair_dots)
SELECT vec_id, rank, other_id, cos FROM ranked WHERE rank <= {TOPK}"""


SQL_ANN_IVF = _sql_ann_ivf()


# ---------------------------------------------------------------------------
# Dedup collapse: candidate edges → connected components → representatives
# ---------------------------------------------------------------------------

# Near-dup cosine threshold: the sf embedding corpora are near-gaussian
# (no planted dup clusters), so τ sits in the top ~0.1% of the pair-cosine
# distribution — enough edges to form non-trivial components, selective
# enough that the result is not all-pairs.
NEARDUP_TAU = 0.35


def q_minhash_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate edges → connected components → every document
    collapsed to its duplicate-cluster representative (component-min doc_id)
    plus the cluster size. Chains collapse transitively: A≈B, B≈C puts A,C
    in one cluster even though the A–C pair was never a candidate.

    Scale path: O(log n) large-star/small-star rounds of two shuffles each
    (operators/dedup_cc.py) — no transitive closure ever materializes. The
    DuckDB oracle floods labels through a recursive CTE instead (a closure
    build, fine at oracle scale and exactly what the operator avoids at
    100 TB)."""
    from .operators.dedup_cc import connected_components

    edges = q_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    )
    docs = read_parquet_dense(spark, f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("node")
    )
    reps = connected_components(edges, docs)
    sizes = reps.groupBy("rep").agg(F.count("*").alias("csize"))
    return reps.join(sizes, "rep").select(
        F.col("node").alias("doc_id"), F.col("rep").alias("rep_id"), "csize"
    )


SQL_MINHASH_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
sym AS (SELECT d1 AS u, d2 AS v FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node),
rep AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
sizes AS (SELECT rep_id, count(*) AS csize FROM rep GROUP BY rep_id)
SELECT r.doc_id, r.rep_id, s.csize FROM rep r JOIN sizes s USING (rep_id)"""


def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster — the collapse
    step that follows component building in a real dedup pipeline
    (CCNet/Gopher keep-the-longest policy): for every MinHash duplicate
    cluster keep the LONGEST member (ties → smallest doc_id), report the
    kept doc, its length, the cluster size, and how many docs the
    collapse drops.  Singleton clusters pass through (n_dropped = 0), so
    summing ``csize`` reproduces the corpus count and summing
    ``n_dropped`` is the dedup ratio numerator.

    Scale shape: reuses the O(log n) star-contraction components
    (operators/dedup_cc.py), then two rep-keyed map-combined aggregates
    (max length; min doc_id among the max-length members) — the
    max-then-min two-pass makes the tie-break explicit instead of
    leaning on an engine's unspecified arg_max tie order."""
    comps = q_minhash_dedup_components(spark, sf_dir)  # doc_id, rep_id, csize
    docs = read_parquet_dense(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    j = comps.join(docs, "doc_id")
    mx = j.groupBy("rep_id").agg(F.max("n_chars").alias("kept_chars"))
    kept = (
        j.join(mx, "rep_id")
        .filter(F.col("n_chars") == F.col("kept_chars"))
        .groupBy("rep_id", "kept_chars")
        .agg(F.min("doc_id").alias("kept_doc"))
    )
    sizes = comps.groupBy("rep_id").agg(F.count("*").alias("csize"))
    return kept.join(sizes, "rep_id").select(
        "rep_id",
        "kept_doc",
        "kept_chars",
        F.col("csize").cast("long").alias("csize"),
        (F.col("csize") - 1).cast("long").alias("n_dropped"),
    )


SQL_DEDUP_KEEP_LONGEST = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
sym AS (SELECT d1 AS u, d2 AS v FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node),
rep AS (SELECT node AS doc_id, min(lab) AS rep_id FROM reach GROUP BY node),
sizes AS (SELECT rep_id, count(*) AS csize FROM rep GROUP BY rep_id),
j AS (SELECT r.rep_id, r.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
      FROM rep r JOIN documents d USING (doc_id)),
mx AS (SELECT rep_id, max(n_chars) AS kept_chars FROM j GROUP BY rep_id),
kept AS (
  SELECT j.rep_id, m.kept_chars, min(j.doc_id) AS kept_doc
  FROM j JOIN mx m ON m.rep_id = j.rep_id AND j.n_chars = m.kept_chars
  GROUP BY j.rep_id, m.kept_chars)
SELECT k.rep_id, k.kept_doc, k.kept_chars,
       CAST(s.csize AS BIGINT) AS csize,
       CAST(s.csize - 1 AS BIGINT) AS n_dropped
FROM kept k JOIN sizes s USING (rep_id)"""


def q_embedding_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup, end to end: LSH bucket candidate
    edges with exact int64-quantized cosine ≥ τ
    (operators/similarity.lsh_neardup_pairs) → connected components →
    per-vector duplicate-cluster representative + cluster size.

    Both the candidate set and the scores are deterministic integer
    arithmetic, so the oracle regenerates the identical edge set;
    approximation (LSH recall at weak cosine) lives in the operator's
    definition, not in engine nondeterminism."""
    from .operators import similarity
    from .operators.dedup_cc import connected_components

    e = read_parquet_dense(spark, f"{sf_dir}/embeddings.parquet")
    edges = similarity.lsh_neardup_pairs(e, NEARDUP_TAU).select(
        F.col("vec_id").alias("u"), F.col("other_id").alias("v")
    )
    reps = connected_components(edges, e.select(F.col("vec_id").alias("node")))
    sizes = reps.groupBy("rep").agg(F.count("*").alias("csize"))
    return reps.join(sizes, "rep").select(
        F.col("node").alias("vec_id"), F.col("rep").alias("rep_id"), "csize"
    )


def _sql_embedding_neardup_components() -> str:
    from .operators.similarity import N_PLANES, N_TABLES, _PLANE_SALT

    d = 64  # embedding dim in the driver tables
    add = _PLANE_SALT * 40503 + 12345
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, x -> x * x)), (a,b) -> a+b) AS n2
  FROM q),
flat AS (
  SELECT vec_id, n2, unnest(q) AS qi, generate_subscripts(q, 1) - 1 AS i FROM n),
planes AS (
  SELECT t.t, p.p, i.i,
         ((CAST(t.t * {N_PLANES * d} + p.p * {d} + i.i AS BIGINT) * 2654435761 + {add})
          % 2147483648) - 1073741824 AS w
  FROM range(0, {N_TABLES}) t(t), range(0, {N_PLANES}) p(p), range(0, {d}) i(i)),
dots AS (
  SELECT f.vec_id, pl.t, pl.p, sum(f.qi * pl.w) AS s
  FROM flat f JOIN planes pl ON pl.i = f.i
  GROUP BY f.vec_id, pl.t, pl.p),
buckets AS (
  SELECT vec_id, t, CAST(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS other_id
  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id),
pair_dots AS (
  SELECT c.vec_id, c.other_id, sum(fa.qi * fb.qi) AS dot,
         any_value(fa.n2) AS n2a, any_value(fb.n2) AS n2b
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.vec_id
  JOIN flat fb ON fb.vec_id = c.other_id AND fb.i = fa.i
  GROUP BY c.vec_id, c.other_id),
edges AS (
  SELECT vec_id AS u, other_id AS v FROM pair_dots
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)) >= {NEARDUP_TAU}),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
reach(node, lab) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node),
rep AS (SELECT node AS vec_id, min(lab) AS rep_id FROM reach GROUP BY node),
sizes AS (SELECT rep_id, count(*) AS csize FROM rep GROUP BY rep_id)
SELECT r.vec_id, r.rep_id, s.csize FROM rep r JOIN sizes s USING (rep_id)"""


SQL_EMBEDDING_NEARDUP_COMPONENTS = _sql_embedding_neardup_components()


# ---------------------------------------------------------------------------
# distributed Lloyd's k-means + SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

KM_K, KM_ITERS = 8, 3
SEMDEDUP_TAU = 0.35


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/kmeans.py): 3 exact-integer
    iterations from deterministic stride seeds; output is every vector's
    final cluster + exact squared distance. The oracle re-runs the identical
    iterations as unrolled SQL CTEs — assignment parity is bit-for-bit."""
    from .operators import kmeans

    qv = _quantized(spark, sf_dir).select("vec_id", "q")
    out, _ = kmeans.lloyd_kmeans(qv, KM_K, KM_ITERS, dim=64)
    return out


def _sql_kmeans_ctes() -> str:
    """The k-means iteration chain as DuckDB CTEs, ending at ``km_final``
    (vec_id, cl, d2) — shared by the assignment and SemDeDup oracles.

    Centroid update uses floor(CAST(sum AS DOUBLE)/count): exact while
    |sum| < 2⁵² and the true quotient is ≥ 1/count away from the nearest
    integer unless exactly integral — both hold by construction here
    (|coord| ≤ 10⁶ · 0.5, count ≤ corpus), matching numpy floor_divide."""
    head = f"""q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT)) AS q
  FROM embeddings),
flat AS (SELECT vec_id, unnest(q) AS v, generate_subscripts(q, 1) - 1 AS i FROM q),
meta AS (SELECT count(*) // {KM_K} AS stride FROM q),
c0 AS (
  SELECT CAST(f.vec_id // m.stride AS INT) AS cl, f.i, f.v
  FROM flat f, meta m
  WHERE f.vec_id % m.stride = 0 AND f.vec_id < m.stride * {KM_K})"""
    steps = []
    for t in range(1, KM_ITERS + 1):
        steps.append(f"""d{t} AS (
  SELECT f.vec_id, c.cl, CAST(sum((f.v - c.v) * (f.v - c.v)) AS BIGINT) AS d2
  FROM flat f JOIN c{t - 1} c USING (i) GROUP BY f.vec_id, c.cl),
a{t} AS (
  SELECT vec_id, cl FROM (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
    FROM d{t}) WHERE rn = 1),
u{t} AS (
  SELECT a.cl, f.i,
         CAST(floor(CAST(sum(f.v) AS DOUBLE) / count(*)) AS BIGINT) AS v
  FROM flat f JOIN a{t} a USING (vec_id) GROUP BY a.cl, f.i),
c{t} AS (
  SELECT * FROM u{t}
  UNION ALL
  SELECT p.* FROM c{t - 1} p
  WHERE p.cl NOT IN (SELECT DISTINCT cl FROM u{t}))""")
    final = f"""dF AS (
  SELECT f.vec_id, c.cl, CAST(sum((f.v - c.v) * (f.v - c.v)) AS BIGINT) AS d2
  FROM flat f JOIN c{KM_ITERS} c USING (i) GROUP BY f.vec_id, c.cl),
km_final AS (
  SELECT vec_id, cl, d2 FROM (
    SELECT vec_id, cl, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
    FROM dF) WHERE rn = 1)"""
    return ",\n".join([head, *steps, final])


SQL_KMEANS_ASSIGN = f"""WITH {_sql_kmeans_ctes()}
SELECT vec_id, CAST(cl AS INTEGER) AS cluster, d2 AS dist_sq FROM km_final"""


def q_semantic_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) re-expressed Spark-first: k-means
    clusters bound the candidate space, pairwise exact int64 cosine runs
    only WITHIN each cluster (shuffle key = cluster id, never all-pairs),
    and duplicate groups collapse via the existing O(log n) large/small-star
    connected components. Output mirrors ``embedding_neardup_components``:
    per-vector duplicate-cluster representative + component size."""
    from .operators import kmeans
    from .operators.dedup_cc import connected_components

    qv = _quantized(spark, sf_dir).select("vec_id", "q")
    asg, _ = kmeans.lloyd_kmeans(qv, KM_K, KM_ITERS, dim=64)
    n2 = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x
    )
    a = qv.join(asg.select("vec_id", "cluster"), "vec_id").select(
        "cluster", "vec_id", "q", n2.alias("n2")
    )
    b = a.select(
        "cluster",
        F.col("vec_id").alias("other_id"),
        F.col("q").alias("qb"),
        F.col("n2").alias("n2b"),
    )
    from .operators.similarity import quantized_cosine

    cos = quantized_cosine(qa="q", n2a="n2")
    edges = (
        a.join(b, "cluster")
        .filter(F.col("vec_id") < F.col("other_id"))
        .filter(cos >= SEMDEDUP_TAU)
        .select(F.col("vec_id").alias("u"), F.col("other_id").alias("v"))
    )
    nodes = qv.select(F.col("vec_id").alias("node"))
    reps = connected_components(edges, nodes)
    sizes = reps.groupBy("rep").agg(F.count("*").alias("csize"))
    return reps.join(sizes, "rep").select(
        F.col("node").alias("vec_id"), F.col("rep").alias("rep_id"), "csize"
    )


# MATERIALIZED: inside a WITH RECURSIVE, DuckDB would otherwise inline the
# whole k-means chain into each consumer (measured 68 s → 1 s at n=500)
SQL_SEMANTIC_DEDUP = f"""WITH RECURSIVE {_sql_kmeans_ctes().replace("flat AS (", "flat AS MATERIALIZED (").replace("km_final AS (", "km_final AS MATERIALIZED (")},
nrm AS (
  SELECT vec_id,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(q, x -> x * x)), (a,b) -> a+b) AS BIGINT) AS n2
  FROM q),
pair_dots AS MATERIALIZED (
  SELECT ka.vec_id, kb.vec_id AS other_id, CAST(sum(fa.v * fb.v) AS BIGINT) AS dot
  FROM km_final ka
  JOIN km_final kb ON ka.cl = kb.cl AND ka.vec_id < kb.vec_id
  JOIN flat fa ON fa.vec_id = ka.vec_id
  JOIN flat fb ON fb.vec_id = kb.vec_id AND fb.i = fa.i
  GROUP BY ka.vec_id, kb.vec_id),
edges AS MATERIALIZED (
  SELECT p.vec_id AS u, p.other_id AS v
  FROM pair_dots p
  JOIN nrm na ON na.vec_id = p.vec_id
  JOIN nrm nb ON nb.vec_id = p.other_id
  WHERE CAST(p.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
        >= {SEMDEDUP_TAU}),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
reach(node, lab) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node),
rep AS (SELECT node AS vec_id, min(lab) AS rep_id FROM reach GROUP BY node),
sizes AS (SELECT rep_id, count(*) AS csize FROM rep GROUP BY rep_id)
SELECT r.vec_id, r.rep_id, s.csize FROM rep r JOIN sizes s USING (rep_id)"""


def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a REAL Structured Streaming query: file-source
    readStream over documents → state-store ``dropDuplicates`` on
    ``md5(text)`` → availableNow append run (streaming/ingest.py). Each
    distinct fingerprint is emitted exactly once regardless of micro-batch
    boundaries, so the batch ``SELECT DISTINCT`` oracle verifies the
    streaming path verbatim."""
    from .streaming.ingest import streaming_dedup_exact

    return streaming_dedup_exact(spark, sf_dir)


SQL_STREAMING_DEDUP = "SELECT DISTINCT md5(text) AS text_md5 FROM documents"


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test corpus split — the standard
    hash-assignment step of a training-data pipeline (every worker, every
    rerun, and every engine assigns each document identically; no seed, no
    shuffle, no sampling drift when the corpus grows). The first two hex
    chars of ``md5(doc_id)`` are uniform over 256 buckets; byte-lexicographic
    thresholds 'cd' (205/256 ≈ 80.1%) and 'e6' (230/256 ≈ 89.8%) give an
    ~80/10/10 split. Map-only (narrow projection, no shuffle) — at 100 TB
    this is a free column, not a job. Plain reader, not the dense one:
    a map-only tag must never pay a scan-spread exchange."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(hx < F.lit("cd"), F.lit("train"))
        .when(hx < F.lit("e6"), F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", split.alias("split"))


SQL_CORPUS_SPLIT = """
SELECT doc_id,
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
       ELSE 'test' END AS split
FROM documents"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (concat-and-chunk): each document's
    exact global token offset and the first/last seq_len=2048 training
    sequence it lands in, in canonical doc_id order. Computed with the
    two-pass distributed prefix sum in operators/packing.py (range
    partition + per-partition scan + broadcast partition offsets) — NOT a
    single-partition global window, which is what the oracle uses and what
    this query must equal regardless of partitioning."""
    from .operators.packing import pack_sequences

    d = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    counted = d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    return pack_sequences(counted, "doc_id", "n_tokens", 2048)


SQL_SEQUENCE_PACK = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM t)
SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 2048 AS BIGINT) AS seq_first,
       CAST(CASE WHEN n_tokens = 0 THEN start_off // 2048
            ELSE (start_off + n_tokens - 1) // 2048 END AS BIGINT) AS seq_last
FROM c"""


def q_benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    n-gram shingle with the held-out eval set — the overlap scrub every
    serious pretraining pipeline runs before training (real pipelines use
    13-grams; this corpus's short synthetic docs use the engine's 3-gram
    shingles so overlaps actually occur at test scale).

    The eval set is derived deterministically from the corpus itself (the
    ``corpus_split`` md5 rule's 'test' bucket) — no external data. Scale
    shape: eval sets are tiny relative to a 100 TB corpus, so the distinct
    eval shingle list is BROADCAST and the train side never shuffles — the
    scrub is one map-side semi-join pass plus a per-doc partial aggregate.
    Output: one row per contaminated train doc with the distinct shingle
    overlap count and how many eval docs it collides with."""
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    sh = _shingles(spark, sf_dir).distinct().withColumn("hx", hx)
    train = sh.filter(F.col("hx") < "cd").select("doc_id", "code")
    eval_ = sh.filter(F.col("hx") >= "e6").select(
        F.col("doc_id").alias("eval_doc_id"), "code"
    )
    return (
        train.join(F.broadcast(eval_), "code")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH {_SHINGLES_CTE},
ds AS (SELECT DISTINCT doc_id, code FROM shingles),
tagged AS (
  SELECT doc_id, code, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx FROM ds),
train AS (SELECT doc_id, code FROM tagged WHERE hx < 'cd'),
ev AS (SELECT doc_id AS eval_doc_id, code FROM tagged WHERE hx >= 'e6')
SELECT t.doc_id, count(*) AS n_shared_shingles,
       count(DISTINCT e.eval_doc_id) AS n_eval_docs
FROM train t JOIN ev e USING (code)
GROUP BY t.doc_id"""


# per-source keep rates for domain mixing: first-byte md5 thresholds
# (64/256 = 25%, 128/256 = 50%, 32/256 = 12.5%); other sources default to
# the base mixture rate 50%
STRATA_THRESHOLDS = {"src0": "40", "src1": "80", "src2": "20"}
STRATA_DEFAULT = "80"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (domain-mix) sampling: each source stratum
    keeps a configured fraction of its documents — the up/down-weighting
    step that sets a training mixture's domain proportions. Membership is a
    pure function of (doc_id, source) via an md5 hex-prefix threshold
    (decorrelated from the ``corpus_split`` hash, which keys on doc_id
    alone): no seed, no shuffle, no drift as the corpus grows, identical
    assignment on every engine and every rerun. Map-only narrow projection —
    at 100 TB this is a filter, not a job. Plain reader, not the dense one:
    a map-only filter must never pay a scan-spread exchange."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    hx = F.substring(F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "source")), 1, 2)
    thr = F.lit(STRATA_DEFAULT)
    for src, t in sorted(STRATA_THRESHOLDS.items()):
        thr = F.when(F.col("source") == src, F.lit(t)).otherwise(thr)
    return d.filter(hx < thr).select("doc_id", "source", "lang")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 2) <
  CASE source {' '.join(f"WHEN '{s}' THEN '{t}'" for s, t in sorted(STRATA_THRESHOLDS.items()))}
       ELSE '{STRATA_DEFAULT}' END"""


# ---------------------------------------------------------------------------
# repetition filter / grouped exact percentiles / composite cleaning pipeline
# ---------------------------------------------------------------------------


def _adjacent_grams(arr, n: int):
    """n-gram strings from a token-array Column, built IN-ROW (no explode,
    no window): ``transform(sequence(1, size-n+1), i -> concat_ws(' ',
    element_at(arr, i), ...))``; empty array when the doc is shorter than n.
    ``sequence`` is guarded — Spark generates a DESCENDING sequence when
    stop < start, so the short-doc case must never reach it.

    ``arr`` MUST be a materialized column (AttributeReference) NAME, not a
    computed expression: higher-order functions are interpreted
    (CodegenFallback) and re-evaluate everything inside the lambda body PER
    ELEMENT — an expression-valued ``arr`` turns this O(d) transform into
    O(d²) (measured: minutes over just 5 k docs). An attribute is one
    row-field read per access.

    Built as ONE ``F.expr`` parse (round 6): the Python-lambda HOF builder
    costs ~40 py4j round-trips per call and the builders re-run every bench
    rep; the parsed tree is the same expression."""
    els = ", ".join(
        f"element_at({arr}, i + {k})" if k else f"element_at({arr}, i)"
        for k in range(n)
    )
    return F.expr(
        f"CASE WHEN size({arr}) >= {n} THEN "
        f"transform(sequence(1, size({arr}) - {n - 1}), i -> concat_ws(' ', {els})) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def _rep_agg(s):
    """Single-pass run-length statistics over a SORTED string-array Column:
    returns ``struct<top:bigint, singles:bigint>`` — the longest run and the
    number of runs of length exactly 1. One ``F.aggregate`` whose lambdas
    reference ONLY lambda variables (acc, x) — the interpreted-HOF trap that
    makes expression references O(d²) cannot apply; ``s`` itself is the
    aggregate's input argument, evaluated once per row. O(d) per row after
    the O(d log d) sort. One ``F.expr`` parse (round 6 — the Python-lambda
    builder cost ~90 py4j round-trips per call); the textual duplication of
    ``same``/``new_run`` matches the Column form's tree, whose interpreted
    evaluation re-computes shared nodes anyway."""
    same = f"(acc.prev IS NOT NULL AND x = acc.prev)"
    new_run = f"CASE WHEN {same} THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END"
    add_single = (
        "acc.singles + CASE WHEN acc.run = 1 THEN CAST(1 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return F.expr(
        f"aggregate({s}, "
        "struct(CAST(NULL AS string) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS top, CAST(0 AS BIGINT) AS singles), "
        f"(acc, x) -> struct(x AS prev, {new_run} AS run, "
        f"greatest(acc.top, {new_run}) AS top, "
        f"CASE WHEN {same} THEN acc.singles ELSE {add_single} END AS singles), "
        f"acc -> struct(acc.top AS top, ({add_single}) AS singles))"
    )


def _run_bounds(s):
    """1-based positions where a SORTED array column starts a new run
    (``array<int>``; empty for an empty input). ``s`` MUST be an attribute —
    see ``_adjacent_grams`` — the lambda probes it per element. ``sequence``
    is guarded against the empty case (stop < start generates a DESCENDING
    sequence) and the ``i == 1`` disjunct short-circuits before
    ``element_at`` could see index 0."""
    return F.expr(
        f"CASE WHEN size({s}) > 0 THEN "
        f"filter(sequence(1, greatest(size({s}), 1)), "
        f"i -> i = 1 OR element_at({s}, i) != element_at({s}, i - 1)) "
        f"ELSE CAST(array() AS array<int>) END"
    )


def _run_pairs(s, b):
    """(element, count) per run of a SORTED array column ``s`` with run
    bounds ``b`` (both attributes), as ``array<struct<token,tf>>`` — the
    in-row term-frequency table. Each run's count is the gap to the next
    boundary (sentinel: size+1); the ``nxt`` array is an argument of
    ``zip_with`` (evaluated once per row), only attribute probes happen
    per element."""
    nxt = (
        f"concat(slice({b}, 2, greatest(size({b}) - 1, 0)), array(size({s}) + 1))"
    )
    return F.expr(
        f"CASE WHEN size({s}) > 0 THEN "
        f"zip_with({b}, {nxt}, (st, en) -> "
        f"struct(element_at({s}, st) AS token, CAST(en - st AS BIGINT) AS tf)) "
        f"ELSE CAST(array() AS array<struct<token:string,tf:bigint>>) END"
    )


def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition-filter signals (Rae et al. 2021, appendix
    A1.1 — public): per document, the fraction of n-gram occurrences that
    are duplicates and the most-frequent n-gram's count, for n ∈ {2, 3}.
    This corpus has no line structure (single-line docs), so the n-gram
    family carries the whole repetition signal.

    Scale shape: MAP-ONLY. Per-document repetition is row-local, so the
    n-grams and their multiplicity stats are computed entirely inside the
    row with LINEAR array HOFs over a sorted copy (`_runs_zip`) — zero
    shuffles, zero windows, zero joins. (The first formulation used lead()
    windows + two (doc_id, gram) aggregates; measured at 600 k docs it was
    sort/spill-bound and scaled at ~0.5 N→4N — the window sort's per-task
    memory SHRINKS as cores grow. The in-row form has no such term; the
    oracle keeps the window formulation, so the pair also proves the two
    shapes equivalent.) Tokens and the sorted gram arrays are materialized
    as COLUMNS in staged projections — CollapseProject keeps non-cheap
    multi-referenced aliases separate, so HOF lambdas only ever probe
    attributes (O(1)) rather than re-evaluating expression subtrees per
    element; the run statistics are one `F.aggregate` pass whose lambdas
    touch only lambda variables. Counts are integers; each fraction is one
    exact-operand double division."""
    d = _docs(spark, sf_dir)
    toked = d.select("doc_id", _toks_col().alias("toks"))
    sorted_grams = toked.select(
        "doc_id",
        # gram count without materializing the gram strings: a doc of t
        # tokens has max(t-n+1, 0) adjacent n-grams
        F.expr("CAST(greatest(size(toks) - 1, 0) AS BIGINT)").alias("n2"),
        F.array_sort(_adjacent_grams("toks", 2)).alias("s2"),
        F.expr("CAST(greatest(size(toks) - 2, 0) AS BIGINT)").alias("n3"),
        F.array_sort(_adjacent_grams("toks", 3)).alias("s3"),
    )
    agged = sorted_grams.select(
        "doc_id", "n2", "n3",
        _rep_agg("s2").alias("a2"),
        _rep_agg("s3").alias("a3"),
    )

    def stats(n: str):
        total = F.col(f"n{n}")
        a = F.col(f"a{n}")
        dup = total - a["singles"]
        return [
            total.alias(f"n{n}"),
            dup.alias(f"dup{n}"),
            a["top"].alias(f"top{n}"),
            (
                dup.cast("double") / F.greatest(total, F.lit(1)).cast("double")
            ).alias(f"dup{n}_frac"),
        ]

    return agged.select("doc_id", *stats("2"), *stats("3"))


SQL_DOC_REPETITION = f"""
WITH {_TOKENS_CTE},
g AS (
  SELECT doc_id, token AS t0,
         lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
         lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
  FROM tokens),
bgc AS (SELECT doc_id, t0 || ' ' || t1 AS gram, count(*) AS c
        FROM g WHERE t1 IS NOT NULL GROUP BY 1, 2),
tgc AS (SELECT doc_id, t0 || ' ' || t1 || ' ' || t2 AS gram, count(*) AS c
        FROM g WHERE t2 IS NOT NULL GROUP BY 1, 2),
bgs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2,
               max(c) AS top2 FROM bgc GROUP BY doc_id),
tgs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3,
               max(c) AS top3 FROM tgc GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(n2, 0) AS n2, coalesce(dup2, 0) AS dup2, coalesce(top2, 0) AS top2,
  CAST(coalesce(dup2, 0) AS DOUBLE) / CAST(greatest(coalesce(n2, 0), 1) AS DOUBLE) AS dup2_frac,
  coalesce(n3, 0) AS n3, coalesce(dup3, 0) AS dup3, coalesce(top3, 0) AS top3,
  CAST(coalesce(dup3, 0) AS DOUBLE) / CAST(greatest(coalesce(n3, 0), 1) AS DOUBLE) AS dup3_frac
FROM documents d LEFT JOIN bgs USING (doc_id) LEFT JOIN tgs USING (doc_id)"""


def q_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language p25/p50/p90 of document length, at UNBOUNDED group
    size: the value-histogram method. A sort- or collect-based grouped
    percentile puts a whole language (33 TB of a 100 TB corpus) in one
    partition; here the only window runs over each language's DISTINCT
    values (cardinality-bounded — thousands of rows however big the corpus),
    after a map-combined (lang, value) count. Selection rule: smallest value
    whose cumulative count reaches ceil(q·n) — discrete percentiles, integer
    outputs, so both engines agree exactly."""
    d = _docs(spark, sf_dir).select("lang", F.col("n_chars").alias("v"))
    c = d.groupBy("lang", "v").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = c.withColumn("cum", F.sum("c").over(w)).join(
        c.groupBy("lang").agg(F.sum("c").alias("n")), "lang"
    )

    def pick(q: float, name: str):
        tgt = F.ceil(F.lit(q) * F.col("n"))
        return F.min(F.when(F.col("cum") >= tgt, F.col("v"))).alias(name)

    return j.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        pick(0.25, "p25"),
        pick(0.5, "p50"),
        pick(0.9, "p90"),
    )


SQL_QUALITY_PERCENTILES = """
WITH c AS (SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
cum AS (SELECT lang, v, c,
               CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum
        FROM c),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY lang)
SELECT lang, max(n) AS n_docs,
  min(CASE WHEN cum >= ceil(0.25 * n) THEN v END) AS p25,
  min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
  min(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS p90
FROM cum JOIN tot USING (lang)
GROUP BY lang"""


# composite cleaning-pipeline thresholds (shared by Spark and the oracle)
FILTER_MIN_TOKENS, FILTER_MAX_TOKENS = 25, 90
FILTER_MIN_STOPWORD_RATIO = 0.03


def corpus_filter_verdicts(docs: DataFrame) -> DataFrame:
    """Core of the composite cleaning pass over a ``documents``-shaped frame:
    length filter → quality (stopword-ratio) filter → exact-dup drop, with
    per-language drop ATTRIBUTION in that priority order. Sequential-pipeline
    semantics: the dedup keeper is the min doc_id AMONG FILTER SURVIVORS
    (a duplicate group whose min-id copy was dropped for length must still
    keep its surviving copy — dedup runs after the filters, exactly as the
    real pipeline executes them).

    One narrow projection computes every signal; the dup side is the same
    hash-groupBy as ``dedup_exact`` over survivors only, left-joined back on
    the md5 — no sort, two shuffles total (md5 groupBy + final lang rollup).
    Counts are integers → exact pair."""
    # one parameterized spark.sql parse (round 6 — the Column form cost
    # ~550 py4j round-trips per construction); same expression tree: the
    # token array is textually re-expanded exactly where the Column form
    # duplicated its subtree, and the ratio threshold uses a D-suffixed
    # DOUBLE literal to match the Python-float literal of the Column form
    n_tok = f"size({_TOKS_EXPR})"
    swr = (
        f"CAST(size(filter({_TOKS_EXPR}, t -> t IN ({_STOP_LIST}))) AS DOUBLE)"
        f" / CAST(greatest({n_tok}, 1) AS DOUBLE)"
    )
    ratio = f"{FILTER_MIN_STOPWORD_RATIO!r}D"
    return docs.sparkSession.sql(
        f"""
WITH sig AS (
  SELECT doc_id, lang, md5(text) AS h, {n_tok} AS n_tok, {swr} AS swr,
         ({n_tok} >= {FILTER_MIN_TOKENS} AND {n_tok} <= {FILTER_MAX_TOKENS}
          AND {swr} >= {ratio}) AS passes
  FROM {{docs}}),
keepers AS (SELECT h, min(doc_id) AS keep_id FROM sig WHERE passes GROUP BY h)
SELECT lang,
  CASE WHEN n_tok < {FILTER_MIN_TOKENS} OR n_tok > {FILTER_MAX_TOKENS}
         THEN 'drop_length'
       WHEN swr < {ratio} THEN 'drop_quality'
       WHEN doc_id != keep_id THEN 'drop_duplicate'
       ELSE 'keep' END AS verdict,
  count(*) AS n_docs
FROM sig LEFT JOIN keepers USING (h)
GROUP BY lang, verdict""",
        docs=docs,
    )


def q_corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface of :func:`corpus_filter_verdicts` over the sf corpus.
    (The sf corpora contain no exact-duplicate texts, so the dedup branch is
    exercised by ``tests/test_text_queries.py`` on a synthetic corpus with
    duplicate groups — including one whose min-id copy fails the length
    filter, pinning the survivor-keeper rule in BOTH engines.)"""
    return corpus_filter_verdicts(_docs(spark, sf_dir, dense=False))


SQL_CORPUS_FILTER = f"""
WITH sig AS (
  SELECT doc_id, lang, md5(text) AS h,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tok,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_LIST}))) AS DOUBLE)
           / CAST(greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1) AS DOUBLE) AS swr
  FROM documents),
flagged AS (
  SELECT *, (n_tok >= {FILTER_MIN_TOKENS} AND n_tok <= {FILTER_MAX_TOKENS}
             AND swr >= {FILTER_MIN_STOPWORD_RATIO}) AS passes
  FROM sig),
keepers AS (SELECT h, min(doc_id) AS keep_id FROM flagged WHERE passes GROUP BY h)
SELECT lang,
  CASE WHEN n_tok < {FILTER_MIN_TOKENS} OR n_tok > {FILTER_MAX_TOKENS} THEN 'drop_length'
       WHEN swr < {FILTER_MIN_STOPWORD_RATIO} THEN 'drop_quality'
       WHEN doc_id <> keep_id THEN 'drop_duplicate'
       ELSE 'keep' END AS verdict,
  count(*) AS n_docs
FROM flagged LEFT JOIN keepers USING (h)
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# vocabulary heavy-hitters / distinctive keywords (tf-idf, integer-ranked)
# ---------------------------------------------------------------------------

HH_TOP_K = 10
KEYWORDS_TOP_K = 3
# conservative bound on the (token, tf) struct rows' bytes per byte of document
# text, charged to the documents estimate by the top-k width gate (not exact)
TOKEN_ROW_FANOUT = 8


def q_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-``HH_TOP_K`` tokens by frequency (corpus vocabulary
    heavy-hitters — the profiling pass a tokenizer-training pipeline runs).

    Scale shape: ``lang`` rides THROUGH the token explode (no tokens⋈docs
    join — the first formulation joined 30 M token rows against a 600 k-doc
    broadcast for a column the source row already had). Token counts are
    then ONE map-combined hash aggregate on (lang, token). The top-k is
    two-phase: a first row_number() windows over (lang, hash-bucket) — 16
    buckets, so no single task ever sees more than ~vocab/16 of a
    language's distinct tokens (a web corpus vocabulary is ~10⁸; one
    partition per language would be a scale-killer) — then the survivors
    (≤ 16·k rows per language) go through the tiny final window. Bucketing
    cannot change the answer: any token in the true top-k is in the top-k
    of its own bucket. Tie order (cnt DESC, token ASC) is total, so both
    engines agree exactly."""
    toks = (
        _docs(spark, sf_dir, dense=False)
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    c = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w1 = Window.partitionBy("lang", F.pmod(F.hash("token"), F.lit(16))).orderBy(
        F.desc("cnt"), "token"
    )
    part = c.withColumn("prn", F.row_number().over(w1)).filter(
        F.col("prn") <= HH_TOP_K
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    return (
        part.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= HH_TOP_K)
        .select("lang", F.col("rank").cast("long").alias("rank"), "token", "cnt")
    )


SQL_VOCAB_HEAVY_HITTERS = f"""
WITH {_TOKENS_CTE},
c AS (SELECT lang, token, count(*) AS cnt
      FROM tokens t JOIN documents d USING (doc_id) GROUP BY 1, 2)
SELECT lang, rank, token, cnt FROM (
  SELECT lang, token, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
  FROM c)
WHERE rank <= {HH_TOP_K}"""


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-``KEYWORDS_TOP_K`` distinctive tokens: tf-idf ranked
    WITHOUT libm — order by (tf DESC, df ASC, token ASC). For fixed tf,
    tf·log(N/df) is strictly decreasing in df, so this integer ordering is
    the exact tf-idf order within equal-tf groups and keeps the oracle pair
    bit-exact (no floating log whose last ulp could differ across engines).

    Scale shape: tf is computed IN-ROW (per-doc term frequency is row-local
    — the linear sort+run-length table of `_run_pairs` over staged
    materialized columns, then one explode of the ~d distinct tokens per
    doc); df is a map-combined aggregate on token; the tf×df equi-join
    shuffles on token; the per-doc top-k is an AGGREGATE
    (sort_array(collect_list)[:k], state bounded by a doc's distinct
    tokens), not a window — the first formulation's corpus-wide window sort
    was spill-bound at 600 k docs (its per-task sort memory shrinks as
    cores grow; measured pair efficiencies swung 0.3-2.0 on pure spill
    behavior)."""
    d = _docs(spark, sf_dir)
    sorted_toks = d.select(
        "doc_id", F.array_sort(_toks_col()).alias("s")
    )
    bounded = sorted_toks.select(
        "doc_id", "s", _run_bounds("s").alias("b")
    )
    tf = bounded.select(
        "doc_id", F.explode(_run_pairs("s", "b")).alias("p")
    ).select("doc_id", "p.token", "p.tf")
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    # EXPLICIT broadcast of the (token, df) dim: letting AQE discover it
    # materializes BOTH join-side shuffles first (25 M tf rows exchanged,
    # plus a byte-coalesced 2-task df stage) before converting — measured
    # 3× the wall at 600 k docs (66.6 s → 22.0 s at local[8]). The
    # broadcast is VOCABULARY-bounded (natural-language token sets, not
    # corpus-bounded); for an unbounded vocabulary flip to the
    # co-partitioned shuffle form: tfE = tf.repartition(n, "token");
    # df = tfE.groupBy(...); tfE.join(df.hint("shuffle_hash"), "token") —
    # both consumers share one exchange, no driver collect.
    ranked = tf.join(F.broadcast(df), "token").select(
        "doc_id",
        F.struct(
            (-F.col("tf")).alias("neg_tf"), "df", "token"
        ).alias("key"),
    )
    # the per-doc top-k aggregate is CPU-dense per group but byte-light:
    # pin its width unless the corpus is small (plans/placement.py)
    from .plans.placement import cpu_dense_repartition, small_enough_to_broadcast

    ranked_wide = (
        ranked
        if small_enough_to_broadcast((d, TOKEN_ROW_FANOUT))
        else cpu_dense_repartition(ranked, "doc_id")
    )
    topk = ranked_wide.groupBy("doc_id").agg(
        F.slice(
            F.array_sort(F.collect_list("key")), 1, KEYWORDS_TOP_K
        ).alias("top")
    )
    return topk.select("doc_id", F.posexplode("top").alias("i", "k")).select(
        "doc_id",
        (F.col("i") + 1).cast("long").alias("rank"),
        F.col("k.token").alias("token"),
        (-F.col("k.neg_tf")).alias("tf"),
        F.col("k.df").alias("df"),
    )


SQL_DOC_KEYWORDS = f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY 1, 2),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, rank, token, tf, df FROM (
  SELECT doc_id, token, tf, df,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df, token) AS rank
  FROM tf JOIN df USING (token))
WHERE rank <= {KEYWORDS_TOP_K}"""


# ---------------------------------------------------------------------------
# edit-distance-1 pairs (FastSS deletion neighborhood)
# ---------------------------------------------------------------------------

FASTSS_MAX_LEN = 20


def fastss_pairs(vocab: DataFrame, col: str = "tok") -> DataFrame:
    """All DISTINCT token pairs at Levenshtein distance ≤ 1 — the typo /
    variant-spelling candidate pass of a vocabulary-normalization pipeline
    (FastSS, Bocek et al. 2007). NO all-pairs comparison: two strings
    within distance 1 always share a 1-DELETION VARIANT (the string
    itself counts), so candidates come from one equi-self-join on the
    exploded variant key — len+1 variants per token, the fan-out bounded
    by ``FASTSS_MAX_LEN``. A codegen ``levenshtein`` verify then removes
    the neighborhood's false positives (e.g. transpositions: 'ab'/'ba'
    share variants but sit at distance 2). Both engines implement the
    standard Levenshtein DP, so the verify is cross-engine exact.

    Scale shape: the join key is the variant string (vocabulary-bounded,
    like every dedup candidate generator in this engine); dedup of
    multi-variant matches is one distinct on the canonical (a < b) pair."""
    v = vocab.select(F.col(col).alias("tok")).filter(
        (F.col("tok") != "") & (F.char_length("tok") <= FASTSS_MAX_LEN)
    ).distinct()
    variants = v.select(
        "tok",
        F.explode(
            F.expr(
                "array_distinct(concat(array(tok), "
                "transform(sequence(1, char_length(tok)), "
                "          i -> concat(substr(tok, 1, i - 1), substr(tok, i + 1)))))"
            )
        ).alias("var"),
    )
    a = variants.select(F.col("tok").alias("t1"), "var")
    b = variants.select(F.col("tok").alias("t2"), "var")
    return (
        a.join(b, "var")
        .filter(F.col("t1") < F.col("t2"))
        .select("t1", "t2")
        .distinct()
        .filter(F.levenshtein("t1", "t2") <= 1)
        .select("t1", "t2", F.levenshtein("t1", "t2").cast("long").alias("dist"))
    )


def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSS distance-1 pairs over the union vocabulary (document tokens
    ∪ part-name tokens ∪ event types)."""
    docs = _docs(spark, sf_dir).select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
    )
    parts = read_parquet_dense(spark, f"{sf_dir}/part.parquet").select(
        F.explode(F.split("p_name", " ")).alias("tok")
    )
    events = read_parquet_dense(spark, f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("tok")
    )
    return fastss_pairs(docs.unionByName(parts).unionByName(events))


SQL_TYPO_PAIRS = """
WITH t AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
    FROM documents
    UNION
    SELECT unnest(string_split(p_name, ' ')) FROM part
    UNION
    SELECT event_type FROM events)
  WHERE tok <> '' AND len(tok) <= 20)
SELECT a.tok AS t1, b.tok AS t2,
       CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
FROM t a JOIN t b ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1"""


# ---------------------------------------------------------------------------
# count-min sketch (bounded-state frequency estimation)
# ---------------------------------------------------------------------------

CM_DEPTH, CM_WIDTH = 4, 512
CM_SALT = 71
CM_PROBES = STOP_EN  # frequency probes: the English stopword set


def q_cm_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token-frequency estimates (Cormode & Muthukrishnan
    2005) vs exact counts: the bounded-state profiling pass a streaming /
    federated corpus pipeline runs when an exact vocabulary aggregate is
    too big. The sketch state is DEPTH×WIDTH int64 registers however large
    the corpus — one map-side ×DEPTH expand, one map-combined aggregate —
    and sketches from different corpus shards MERGE by addition (the same
    mergeability argument as the HLL/KMV registers, queries_relational).

    est(token) = min over rows of register[r][ihash(tid, salt+r) % W] —
    ≥ exact by construction (collisions only ADD); integer arithmetic on
    both engines, so the driver hash is exact. The probe set reports est
    alongside the exact count, making the overestimate auditable."""
    return cm_sketch_frame(_docs(spark, sf_dir), CM_PROBES)


def cm_sketch_frame(
    docs: DataFrame,
    probes,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Core of :func:`q_cm_sketch_estimates` over any ``text``-column frame."""
    from . import datagen as dg

    spark = docs.sparkSession
    toks = docs.select(F.explode(_toks_col()).alias("token"))

    # one parsed expression for the DEPTH register coordinates (round 6:
    # the Column-form listcomp cost ~1,100 py4j round-trips per build)
    rc_arr = ", ".join(
        f"struct({r} AS r, ({dg.ihash_expr('tid', CM_SALT + r)}) % {width} AS c)"
        for r in range(depth)
    )

    def cells(frame):
        return frame.select(
            *[c for c in frame.columns if c != "tid"],
            F.expr(f"explode(array({rc_arr}))").alias("rc"),
        )

    tid = toks.select(_tid_col("token").alias("tid"))
    sketch = cells(tid).groupBy("rc.r", "rc.c").agg(F.count("*").alias("cnt"))

    probe_vals = ", ".join(f"'{w}'" for w in probes)
    probe_df = spark.range(1).select(
        F.expr(f"explode(array({probe_vals}))").alias("token")
    ).withColumn("tid", _tid_col("token"))
    probe_cells = cells(probe_df).select("token", "rc.r", "rc.c")
    est = (
        probe_cells.join(sketch, ["r", "c"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )
    exact = (
        toks.filter(F.col("token").isin(*probes))
        .groupBy("token")
        .agg(F.count("*").alias("exact_cnt"))
    )
    return (
        est.join(exact, "token", "left")
        .select(
            "token",
            F.col("est").cast("long").alias("est"),
            F.coalesce("exact_cnt", F.lit(0)).cast("long").alias("exact_cnt"),
        )
    )


def _sql_cm_sketch() -> str:
    from . import datagen as dg

    reg_selects = " UNION ALL ".join(
        f"SELECT {r} AS r, {dg.ihash_sql('tid', CM_SALT + r)} % {CM_WIDTH} AS c FROM tid"
        for r in range(CM_DEPTH)
    )
    probe_vals = ", ".join(f"('{w}')" for w in CM_PROBES)
    probe_cells = " UNION ALL ".join(
        f"SELECT token, {r} AS r, {dg.ihash_sql('tid', CM_SALT + r)} % {CM_WIDTH} AS c FROM ptid"
        for r in range(CM_DEPTH)
    )
    return f"""
WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
tok AS (SELECT unnest(toks) AS token FROM t),
tid AS (SELECT {_TID_SQL} AS tid FROM tok),
regs AS ({reg_selects}),
sketch AS (SELECT r, c, count(*) AS cnt FROM regs GROUP BY 1, 2),
probes(token) AS (VALUES {probe_vals}),
ptid AS (SELECT token, {_TID_SQL} AS tid FROM probes),
pcells AS ({probe_cells}),
est AS (
  SELECT token, min(COALESCE(s.cnt, 0)) AS est
  FROM pcells p LEFT JOIN sketch s USING (r, c) GROUP BY token),
exact AS (
  SELECT token, count(*) AS exact_cnt FROM tok
  WHERE token IN ({", ".join(f"'{w}'" for w in CM_PROBES)}) GROUP BY token)
SELECT e.token, CAST(e.est AS BIGINT) AS est,
       CAST(COALESCE(x.exact_cnt, 0) AS BIGINT) AS exact_cnt
FROM est e LEFT JOIN exact x USING (token)"""


# ---------------------------------------------------------------------------
# bigram collocations (PMI lift, integer-exact)
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 5  # a bigram needs ≥5 corpus occurrences to be scored


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: bigrams ranked by integer PMI lift
    ``cnt(w1,w2)·T div (cnt(w1)·cnt(w2))`` — the exponent of pointwise
    mutual information, the collocation score a tokenizer/phrase-mining
    pass computes over a training corpus (Church & Hanks 1990).

    log() is libm territory (1-ulp cross-engine divergence, see
    tests/oracle.py); the UNLOGGED lift is exact integer arithmetic, and
    monotone in PMI, so ranking semantics are identical. Products are
    computed in DECIMAL(38,0) (DuckDB mirror: HUGEINT): at corpus scale
    cnt·T reaches ~10²⁷ — past int64, inside decimal128, and `div` brings
    the quotient (≤ T) back to BIGINT.

    Scale shape: bigrams come from a map-side adjacent-pair transform over
    each document's token array (NO token self-join — pairing rides the
    explode); counts are map-combined hash aggregates; the two unigram
    joins key on the vocabulary (cardinality-bounded — ~10⁸ however big
    the corpus, and Zipf-concentrated so AQE broadcast usually fires);
    T is a one-row aggregate broadcast via a 1×N cross join."""
    return bigram_pmi_frame(_docs(spark, sf_dir, dense=False), min_pair=PMI_MIN_PAIR)


def bigram_pmi_frame(docs: DataFrame, min_pair: int = PMI_MIN_PAIR) -> DataFrame:
    """Core of :func:`q_bigram_pmi` over any frame with a ``text`` column."""
    # one parameterized spark.sql parse (round 6 — the Column form cost
    # ~460 py4j round-trips per construction); identical tree: pair
    # transform rides the explode (filter size ≥ 2 BEFORE it — sequence(1,0)
    # would run DESCENDING), vocabulary joins left to AQE, the 1-row total
    # broadcast-cross-joined, decimal(38,0) integral-divide lift
    d = "CAST({} AS DECIMAL(38,0))"
    return docs.sparkSession.sql(
        f"""
WITH big AS (
  SELECT w1, w2, count(*) AS pair_cnt FROM (
    SELECT p.w1, p.w2 FROM (
      SELECT explode(transform(sequence(1, size(_arr) - 1),
               i -> struct(element_at(_arr, i) AS w1,
                           element_at(_arr, i + 1) AS w2))) AS p
      FROM (SELECT {_TOKS_EXPR} AS _arr FROM {{docs}}) WHERE size(_arr) >= 2))
  GROUP BY w1, w2 HAVING count(*) >= {min_pair}),
uni AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT explode({_TOKS_EXPR}) AS token FROM {{docs}}) GROUP BY token),
tot AS (SELECT sum(cnt) AS t_tokens FROM uni)
SELECT /*+ BROADCAST(tot) */ w1, w2, CAST(pair_cnt AS BIGINT) AS pair_cnt,
       ({d.format('pair_cnt')} * {d.format('t_tokens')})
         div ({d.format('c1')} * {d.format('c2')}) AS lift
FROM big JOIN (SELECT token AS w1, cnt AS c1 FROM uni) USING (w1)
         JOIN (SELECT token AS w2, cnt AS c2 FROM uni) USING (w2)
         CROSS JOIN tot""",
        docs=docs,
    )


SQL_BIGRAM_PMI = f"""
WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
idx AS (SELECT toks, generate_subscripts(toks, 1) AS i FROM t),
big AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS pair_cnt
  FROM idx
  WHERE i < len(toks)
  GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_PAIR}),
cnts AS (SELECT token, count(*) AS cnt
         FROM (SELECT unnest(toks) AS token FROM t) GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS HUGEINT) AS t_tokens FROM cnts)
SELECT b.w1, b.w2, CAST(b.pair_cnt AS BIGINT) AS pair_cnt,
       CAST((b.pair_cnt::HUGEINT * tot.t_tokens)
            // (c1.cnt::HUGEINT * c2.cnt::HUGEINT) AS BIGINT) AS lift
FROM big b
JOIN cnts c1 ON c1.token = b.w1
JOIN cnts c2 ON c2.token = b.w2
CROSS JOIN tot"""


QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "bigram_pmi": (q_bigram_pmi, SQL_BIGRAM_PMI),
    "cm_sketch_estimates": (q_cm_sketch_estimates, _sql_cm_sketch()),
    "typo_pairs": (q_typo_pairs, SQL_TYPO_PAIRS),
    "vocab_heavy_hitters": (q_vocab_heavy_hitters, SQL_VOCAB_HEAVY_HITTERS),
    "doc_keywords": (q_doc_keywords, SQL_DOC_KEYWORDS),
    "doc_repetition_stats": (q_doc_repetition_stats, SQL_DOC_REPETITION),
    "quality_percentiles": (q_quality_percentiles, SQL_QUALITY_PERCENTILES),
    "corpus_filter_pipeline": (q_corpus_filter_pipeline, SQL_CORPUS_FILTER),
    "benchmark_decontaminate": (q_benchmark_decontaminate, SQL_DECONTAMINATE),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "corpus_split": (q_corpus_split, SQL_CORPUS_SPLIT),
    "sequence_pack": (q_sequence_pack, SQL_SEQUENCE_PACK),
    "streaming_dedup_exact": (q_streaming_dedup_exact, SQL_STREAMING_DEDUP),
    "minhash_dedup_components": (q_minhash_dedup_components, SQL_MINHASH_DEDUP_COMPONENTS),
    "dedup_keep_longest": (q_dedup_keep_longest, SQL_DEDUP_KEEP_LONGEST),
    "doc_chunk_windows": (q_doc_chunk_windows, SQL_DOC_CHUNK_WINDOWS),
    "embedding_neardup_components": (
        q_embedding_neardup_components,
        SQL_EMBEDDING_NEARDUP_COMPONENTS,
    ),
    "kmeans_assign": (q_kmeans_assign, SQL_KMEANS_ASSIGN),
    "semantic_dedup_components": (q_semantic_dedup_components, SQL_SEMANTIC_DEDUP),
    "embedding_ann_lsh": (q_embedding_ann_lsh, SQL_ANN_LSH),
    "embedding_ann_ivf": (q_embedding_ann_ivf, SQL_ANN_IVF),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_id_heuristic": (q_lang_id, SQL_LANG_ID),
    "token_count_regex": (q_token_count_regex, SQL_TOKEN_COUNT),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "embedding_topk_columnar": (q_embedding_topk_columnar, SQL_EMBEDDING_TOPK),
    "embedding_label_knn": (q_embedding_label_knn, SQL_EMBEDDING_LABEL_KNN),
}
