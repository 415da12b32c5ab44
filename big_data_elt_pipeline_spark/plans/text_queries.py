"""Training-data-pipeline queries over ``documents``/``embeddings`` with
DuckDB oracle mirrors (beyond-reference surface — SURVEY.md §7 phase 6).

The SQL is generated from the SAME Python constants as the Spark operators
(minhash permutations, language markers, simhash width), so parity is
structural, not coincidental. Near-dup queries augment the corpus with
deterministic perturbed copies (id+10000, first token dropped / vector
scaled) so the pipelines are exercised with guaranteed positives.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions import text as TX
from big_data_elt_pipeline_spark.operators import dedup as DD
from big_data_elt_pipeline_spark.operators import sampling as SMP
from big_data_elt_pipeline_spark.operators import similarity as SIM
from big_data_elt_pipeline_spark.plans.queries import bench_iters, register
from big_data_elt_pipeline_spark.sources.tpch import read_table

# --- shared SQL fragments (mirrors of functions/text.py) -------------------

_TOK = "string_split_regex(lower(trim({c})), '\\s+')"
_HASH32 = "('0x' || substr(md5({c}), 1, 8))::BIGINT"


def _count_in_sql(tok: str, words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({tok}, x -> list_contains({arr}, x)))"


_SHINGLES = (
    "CASE WHEN len(tok) >= 3 THEN "
    "list_transform(range(0, len(tok)-3+1), i -> array_to_string(tok[(i+1):(i+3)], ' ')) "
    "ELSE [array_to_string(tok, ' ')] END"
)

# corpus + deterministic near-dup copies (mirrored in Spark below)
_DOCS2_SQL = """
docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
    FROM documents
)
"""


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return docs.unionByName(perturbed)


# --------------------------------------------------------------------------
# doc_stats: token counting + quality scoring + language ID + fingerprint
# --------------------------------------------------------------------------

_LANG_SCORES = ",\n           ".join(
    f"{_count_in_sql('tok', ws)} AS sc_{lang}" for lang, ws in TX.LANG_MARKERS.items()
)
_BEST = "greatest(" + ", ".join(f"sc_{lang}" for lang in TX.LANG_MARKERS) + ")"
_LANG_CASE = "CASE WHEN " + _BEST + " = 0 THEN 'und' " + " ".join(
    f"WHEN sc_{lang} = {_BEST} THEN '{lang}'" for lang in TX.LANG_MARKERS
) + " ELSE 'und' END"

_DOC_STATS_SQL = f"""
WITH base AS (
    SELECT doc_id, text, {_TOK.format(c='text')} AS tok FROM documents
),
st AS (
    SELECT doc_id, text, tok,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({_count_in_sql('tok', TX.STOPWORDS)} AS BIGINT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
           {_LANG_SCORES}
    FROM base
),
r AS (
    SELECT *,
           CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio
    FROM st
)
SELECT doc_id, n_tokens, n_chars, stopword_ratio, punct_ratio,
       least(greatest(
           0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
           + 0.3 * least(stopword_ratio * 5.0, 1.0)
           + 0.2 * (1.0 - least(punct_ratio * 10.0, 1.0)), 0.0), 1.0) AS quality,
       {_LANG_CASE} AS lang_guess,
       md5(array_to_string(tok, ' ')) AS fingerprint
FROM r
"""


@register("doc_stats", _DOC_STATS_SQL)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = TX.token_count(t)
    n_chars = F.length(t).cast("long")
    stop_ratio = F.when(n_tok > 0, TX.stopword_count(t).cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, TX.punct_count(t).cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        TX.quality_score(t).alias("quality"),
        TX.lang_id(t).alias("lang_guess"),
        TX.fingerprint(t).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

_DEDUP_EXACT_SQL = f"""
WITH {_DOCS2_SQL.strip()},
fp AS (
    SELECT doc_id, md5(array_to_string({_TOK.format(c='text')}, ' ')) AS fingerprint
    FROM docs2
)
SELECT doc_id, fingerprint,
       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
FROM fp
"""


@register("dedup_exact", _DEDUP_EXACT_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_docs2(spark, sf_dir))


# --------------------------------------------------------------------------
# incremental exact dedup: new batch vs the existing corpus index
# --------------------------------------------------------------------------

_FP = f"md5(array_to_string({_TOK.format(c='text')}, ' '))"

_DEDUP_INCR_SQL = f"""
WITH index_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
),
batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM index_docs WHERE doc_id % 97 = 1
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 5 = 0 AND doc_id % 50 = 0
),
idx AS (
    SELECT {_FP} AS fingerprint, min(doc_id) AS corpus_canonical
    FROM index_docs GROUP BY 1
),
b AS (SELECT doc_id, {_FP} AS fingerprint FROM batch),
bmin AS (SELECT fingerprint, min(doc_id) AS first_in_batch FROM b GROUP BY 1)
SELECT b.doc_id, b.fingerprint,
       CASE WHEN i.corpus_canonical IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.doc_id > m.first_in_batch THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       CASE WHEN i.corpus_canonical IS NOT NULL THEN i.corpus_canonical
            WHEN b.doc_id > m.first_in_batch THEN m.first_in_batch
            END AS dup_of
FROM b
JOIN bmin m USING (fingerprint)
LEFT JOIN idx i USING (fingerprint)
"""


@register("dedup_incremental", _DEDUP_INCR_SQL)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest dedup decisions against the existing corpus (the 100 TB
    operational form — nobody re-deduplicates the whole corpus per batch):
    incoming docs are flagged dup_of_corpus / dup_in_batch / new with a
    deterministic survivor. The batch plants both duplicate kinds (exact
    copies of index docs and a within-batch duplicate wave) so every
    status is exercised; the oracle recomputes the identical decision
    table."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_docs = docs.filter(F.col("doc_id") % 5 != 0)
    base = docs.filter(F.col("doc_id") % 5 == 0)
    batch = (
        base.unionByName(
            index_docs.filter(F.col("doc_id") % 97 == 1).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 50 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return DD.incremental_exact_dedup(index_docs, batch)


# --------------------------------------------------------------------------
# MinHash + LSH + exact-Jaccard near-dup
# --------------------------------------------------------------------------

def _minhash_sql() -> str:
    mins = ",\n           ".join(
        f"min(({a} * h + {b}) % {DD.MERSENNE_P}) AS mh{i}" for i, (a, b) in enumerate(DD.PERMS)
    )
    band_selects = []
    for b in range(DD.N_BANDS):
        cols = ", ".join(
            f"CAST(mh{b * DD.ROWS_PER_BAND + r} AS VARCHAR)" for r in range(DD.ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bkey FROM sig"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH {_DOCS2_SQL.strip()},
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle
        FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM docs2)
    )
),
hashed AS (SELECT doc_id, {_HASH32.format(c='shingle')} AS h FROM sh),
sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
),
bands AS (
{bands}
),
cand AS (
    SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
    FROM bands l JOIN bands r USING (band, bkey)
    WHERE l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id1, c.id2, count(*) AS inter
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.id1
    JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
    GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2, z1.nsh AS n1, z2.nsh AS n2, i.inter,
       CAST(i.inter AS DOUBLE) / CAST(z1.nsh + z2.nsh - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes z1 ON z1.doc_id = i.id1
JOIN sizes z2 ON z2.doc_id = i.id2
WHERE CAST(i.inter AS DOUBLE) / CAST(z1.nsh + z2.nsh - i.inter AS DOUBLE) >= 0.5
"""


@register("dedup_minhash", _minhash_sql())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_dedup(_docs2(spark, sf_dir), threshold=0.5)


# --------------------------------------------------------------------------
# incremental MinHash near-dup: new batch vs the corpus LSH index
# --------------------------------------------------------------------------

def _mh_side_sql(tag: str, src: str) -> str:
    """Shingles -> signature -> bands -> sizes CTE chain for one corpus
    side, suffixed ``_{tag}`` — the two-sided mirror of _minhash_sql's
    single-corpus chain, generated from the SAME Python constants."""
    mins = ",\n           ".join(
        f"min(({a} * h + {b}) % {DD.MERSENNE_P}) AS mh{i}"
        for i, (a, b) in enumerate(DD.PERMS)
    )
    band_selects = []
    for b in range(DD.N_BANDS):
        cols = ", ".join(
            f"CAST(mh{b * DD.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(DD.ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bkey FROM sig_{tag}"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    return f"""
sh_{tag} AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle
        FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM {src})
    )
),
hashed_{tag} AS (SELECT doc_id, {_HASH32.format(c='shingle')} AS h FROM sh_{tag}),
sig_{tag} AS (SELECT doc_id, {mins} FROM hashed_{tag} GROUP BY doc_id),
bands_{tag} AS (
{bands}
),
sizes_{tag} AS (SELECT doc_id, count(*) AS nsh FROM sh_{tag} GROUP BY doc_id)"""


def _incr_minhash_sql() -> str:
    return f"""
WITH index_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
),
batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
    FROM index_docs WHERE doc_id % 97 = 1
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM index_docs WHERE doc_id % 49 = 0
),
{_mh_side_sql('i', 'index_docs')},
{_mh_side_sql('b', 'batch')},
cand AS (
    SELECT DISTINCT b.doc_id AS id_b, i.doc_id AS id_i
    FROM bands_b b JOIN bands_i i USING (band, bkey)
),
inter AS (
    SELECT c.id_b, c.id_i, count(*) AS inter
    FROM cand c
    JOIN sh_b sb ON sb.doc_id = c.id_b
    JOIN sh_i si ON si.doc_id = c.id_i AND si.shingle = sb.shingle
    GROUP BY c.id_b, c.id_i
),
matches AS (
    SELECT n.id_b, n.id_i,
           CAST(n.inter AS DOUBLE) / CAST(zb.nsh + zi.nsh - n.inter AS DOUBLE) AS jaccard
    FROM inter n
    JOIN sizes_b zb ON zb.doc_id = n.id_b
    JOIN sizes_i zi ON zi.doc_id = n.id_i
    WHERE CAST(n.inter AS DOUBLE) / CAST(zb.nsh + zi.nsh - n.inter AS DOUBLE) >= 0.5
),
best AS (
    SELECT id_b, id_i, jaccard,
           row_number() OVER (PARTITION BY id_b ORDER BY jaccard DESC, id_i) AS rn
    FROM matches
)
SELECT b.doc_id,
       CASE WHEN w.id_i IS NOT NULL THEN 'near_dup_of_corpus' ELSE 'new' END AS status,
       w.id_i AS dup_of, w.jaccard
FROM batch b
LEFT JOIN (SELECT * FROM best WHERE rn = 1) w ON w.id_b = b.doc_id
"""


@register("dedup_incremental_minhash", _incr_minhash_sql())
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest NEAR-dup decisions against the corpus LSH index (the
    MinHash twin of ``dedup_incremental``). The batch plants perturbed
    copies of index docs (first token dropped — near but not exact) and
    exact copies, so both the verified-match path and the best-match
    tie-break are exercised; the oracle recomputes the identical decision
    table from the same md5-derived signatures."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_docs = docs.filter(F.col("doc_id") % 5 != 0)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .unionByName(
            index_docs.filter(F.col("doc_id") % 97 == 1).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
            )
        )
        .unionByName(
            index_docs.filter(F.col("doc_id") % 49 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return DD.incremental_minhash_dedup(index_docs, batch)


# --------------------------------------------------------------------------
# Near-dup cluster resolution (connected components over minhash pairs)
# --------------------------------------------------------------------------

def _clusters_sql() -> str:
    """Oracle: the SAME minhash pair relation, closed transitively by a
    recursive CTE (set-semantics UNION guarantees termination), then
    labeled with the component min — DuckDB computes in one recursive
    query what the Spark side computes in O(log d) pointer-jumping rounds.
    The PLANS are deliberately different; the fixpoint is identical."""
    return f"""
WITH RECURSIVE pairs AS (
{_minhash_sql()}
),
edges AS (
    SELECT id1 AS u, id2 AS v FROM pairs
    UNION
    SELECT id2 AS u, id1 AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM labels
"""


@register("dedup_clusters", _clusters_sql())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: MinHash near-dup pairs (threshold 0.5) resolved
    to connected components; one row per clustered doc with the
    deterministic canonical (= component-min id). The operational form of
    dedup — what actually decides keep/drop for a training corpus."""
    pairs = DD.minhash_dedup(_docs2(spark, sf_dir), threshold=0.5).select("id1", "id2")
    return DD.neardup_clusters(pairs)


def _keep_best_sql() -> str:
    """Oracle: the _clusters_sql component closure, joined to the
    quality-score chain (the _DOC_STATS_SQL mirror over docs2), survivor
    per cluster by row_number(quality DESC, doc_id ASC) — DuckDB's window
    replay of the Spark side's partial-aggregable struct max."""
    return f"""
WITH RECURSIVE pairs AS (
{_minhash_sql()}
),
edges AS (
    SELECT id1 AS u, id2 AS v FROM pairs
    UNION
    SELECT id2 AS u, id1 AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
{_DOCS2_SQL.strip()},
qd AS (
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({_count_in_sql('tok', TX.STOPWORDS)} AS BIGINT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct
    FROM (SELECT doc_id, text, {_TOK.format(c='text')} AS tok FROM docs2)
),
q AS (
    SELECT doc_id,
           least(greatest(
               0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
               + 0.3 * least(CASE WHEN n_tokens > 0
                   THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   ELSE 0.0 END * 5.0, 1.0)
               + 0.2 * (1.0 - least(CASE WHEN n_chars > 0
                   THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                   ELSE 0.0 END * 10.0, 1.0)), 0.0), 1.0) AS quality
    FROM qd
),
mem AS (
    SELECT l.doc_id, l.cluster_id, q.quality
    FROM labels l JOIN q ON q.doc_id = l.doc_id
),
sel AS (
    SELECT cluster_id, doc_id, quality,
           row_number() OVER (
               PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC
           ) AS rn,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM mem
)
SELECT cluster_id, doc_id AS survivor_id, quality AS survivor_quality,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       doc_id != cluster_id AS differs_from_min_id
FROM sel WHERE rn = 1
"""


@register("dedup_keep_best", _keep_best_sql())
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters resolved to their best-quality survivor (not the
    min-id one): the keep/drop policy that makes dedup a CURATION step —
    the flag column marks exactly the clusters where quality-keep differs
    from min-id-keep. Contract in ``operators/dedup.quality_survivors``."""
    docs2 = _docs2(spark, sf_dir)
    pairs = DD.minhash_dedup(docs2, threshold=0.5).select("id1", "id2")
    return DD.quality_survivors(docs2, pairs)


# --------------------------------------------------------------------------
# Higher-order array functions over the embedding column
# --------------------------------------------------------------------------

_EMB_STATS_SQL = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
)
SELECT vec_id,
       CAST(len(v) AS INTEGER) AS dim,
       list_reduce(v, (a, b) -> a + b) AS sum_v,
       list_reduce(v, (a, b) -> a + b) / len(v) AS mean_v,
       sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS l2_norm,
       list_min(v) AS min_v,
       list_max(v) AS max_v,
       CAST(len(list_filter(v, x -> x > 0.0)) AS BIGINT) AS n_positive
FROM e
"""


@register("embedding_stats", _EMB_STATS_SQL)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class engine surface:
    transform / aggregate(fold) / filter / array_min / array_max over the
    embedding column, all inside codegen — no explode, no shuffle, no
    Python. Exactness note: the fold is SEQUENTIAL in both engines
    (F.aggregate and DuckDB list_reduce walk the list left-to-right), so
    double addition happens in the same order and the sums are
    bit-identical — an unnest+SUM oracle would NOT be (unordered
    aggregation)."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)
    sum_v = fold(v)
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        sum_v.alias("sum_v"),
        (sum_v / F.size(v)).alias("mean_v"),
        F.sqrt(fold(F.transform(v, lambda x: x * x))).alias("l2_norm"),
        F.array_min(v).alias("min_v"),
        F.array_max(v).alias("max_v"),
        F.size(F.filter(v, lambda x: x > 0.0)).cast("long").alias("n_positive"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) near-dup
# --------------------------------------------------------------------------

def _winnow_sql() -> str:
    C = DD._POS_RADIX
    w = DD.WINNOW_W
    return f"""
WITH {_DOCS2_SQL.strip()},
shp AS (
    SELECT doc_id, u.pos AS pos, u.sh AS shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, len(L)),
                                     i -> struct_pack(pos := i, sh := L[i+1]))) AS u
        FROM (
            SELECT doc_id, {_SHINGLES.replace('tok', 'tok')} AS L
            FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM docs2)
        )
    )
),
keyed AS (
    SELECT doc_id, pos,
           {_HASH32.format(c='shingle')} * {C} + ({C - 1} - pos) AS ck,
           count(*) OVER (PARTITION BY doc_id) AS m
    FROM shp
),
sel AS (
    SELECT doc_id, pos, m,
           min(ck) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS c
    FROM keyed
),
fp AS (
    SELECT DISTINCT doc_id, CAST(floor(c / {C}) AS BIGINT) AS fhash
    FROM sel WHERE pos <= greatest(m - {w}, 0)
),
sizes AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
ov AS (
    SELECT l.doc_id AS id1, r.doc_id AS id2, count(*) AS overlap
    FROM fp l JOIN fp r USING (fhash)
    WHERE l.doc_id < r.doc_id
    GROUP BY 1, 2
)
SELECT o.id1, o.id2, z1.nf AS f1, z2.nf AS f2, o.overlap,
       CAST(o.overlap AS DOUBLE) / CAST(z1.nf + z2.nf - o.overlap AS DOUBLE) AS score
FROM ov o
JOIN sizes z1 ON z1.doc_id = o.id1
JOIN sizes z2 ON z2.doc_id = o.id2
WHERE CAST(o.overlap AS DOUBLE) / CAST(z1.nf + z2.nf - o.overlap AS DOUBLE) >= 0.4
"""


@register("dedup_winnow", _winnow_sql())
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint near-dup over the perturbed corpus — the
    substring-guarantee fingerprint family (MOSS), joining only the
    winnow-selected fraction of the shingle volume."""
    return DD.winnow_neardup(_docs2(spark, sf_dir), threshold=0.4)


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------

def _simhash_sql() -> str:
    sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(DD.SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(DD.SIMHASH_BITS)
    )
    return f"""
WITH {_DOCS2_SQL.strip()},
tok AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(list_distinct({_TOK.format(c='text')})) AS tok FROM docs2
    )
),
hashed AS (SELECT doc_id, {_HASH32.format(c='tok')} AS h FROM tok),
per_bit AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
sig AS (SELECT doc_id, {value} AS simhash FROM per_bit),
halves AS (
    SELECT doc_id, simhash, 0 AS half, simhash % 65536 AS hkey FROM sig
    UNION ALL
    SELECT doc_id, simhash, 1 AS half, CAST(floor(simhash / 65536) AS BIGINT) AS hkey FROM sig
)
SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
FROM halves l JOIN halves r USING (half, hkey)
WHERE l.doc_id < r.doc_id
  AND bit_count(xor(l.simhash, r.simhash)) <= 3
"""


@register("dedup_simhash", _simhash_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_neardup(_docs2(spark, sf_dir), max_hamming=3)


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup, prefix-filtered (lossless — no LSH recall loss)
# --------------------------------------------------------------------------

_NGRAM_JACCARD_SQL = f"""
WITH {_DOCS2_SQL.strip()},
sh AS (
    -- 60-bit portable shingle hash, identical to Spark's functions.text
    -- .hash60 — joins move longs, not strings (see ngram_jaccard_dedup)
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle
    FROM (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle
        FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM docs2)
    )
),
freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
ranked AS (
    SELECT s.doc_id, s.shingle, f.df,
           count(*) OVER (PARTITION BY s.doc_id) AS nsh,
           row_number() OVER (PARTITION BY s.doc_id ORDER BY f.df, s.shingle) AS rn
    FROM sh s JOIN freq f USING (shingle)
),
pref AS (
    SELECT doc_id, shingle FROM ranked
    WHERE rn <= nsh - CAST(ceil(0.5 * nsh) AS BIGINT) + 1
),
cand AS (
    SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
    FROM pref l JOIN pref r USING (shingle)
    WHERE l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id1, c.id2, count(*) AS inter
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.id1
    JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
    GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2, z1.nsh AS n1, z2.nsh AS n2, i.inter,
       CAST(i.inter AS DOUBLE) / CAST(z1.nsh + z2.nsh - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes z1 ON z1.doc_id = i.id1
JOIN sizes z2 ON z2.doc_id = i.id2
WHERE CAST(i.inter AS DOUBLE) / CAST(z1.nsh + z2.nsh - i.inter AS DOUBLE) >= 0.5
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_dedup(_docs2(spark, sf_dir), threshold=0.5)


# --------------------------------------------------------------------------
# dedup_minhash_recall: measured recall of the MinHash+LSH candidate
# generator against the lossless prefix-filtered truth at the same
# threshold — the eval that justifies the band/row configuration. Oracle
# composes the two standalone pair oracles as derived tables.
# --------------------------------------------------------------------------

_MINHASH_RECALL_SQL = f"""
WITH t AS (SELECT id1, id2 FROM ({_NGRAM_JACCARD_SQL})),
m AS (SELECT id1, id2 FROM ({_minhash_sql()})),
j AS (
    SELECT (t.id1 IS NOT NULL) AS in_t, (m.id1 IS NOT NULL) AS in_m
    FROM t FULL OUTER JOIN m USING (id1, id2)
)
SELECT CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN in_m THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN in_t AND in_m THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN in_t AND NOT in_m THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
       CAST(sum(CASE WHEN in_m AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_spurious,
       CASE WHEN sum(CASE WHEN in_t THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN in_t AND in_m THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE)
       END AS recall
FROM j
"""


@register("dedup_minhash_recall", _MINHASH_RECALL_SQL)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash+LSH candidates vs the lossless exact-Jaccard
    truth on the perturbed twin corpus (threshold 0.5): both sides verify
    exact Jaccard, so precision is 1.0 by construction and n_spurious
    pins the subset law — recall is the one number the LSH configuration
    owes you. Contract in ``operators/dedup.minhash_recall_eval``."""
    return DD.minhash_recall_eval(_docs2(spark, sf_dir), threshold=0.5)


# --------------------------------------------------------------------------
# similarity search over embeddings
# --------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


_ANN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8),
scored AS (
    SELECT q.query_id, e.vec_id, {_cos("q.qvec", "e.embedding")} AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE q.query_id != e.vec_id
)
SELECT query_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("ann_topk", _ANN_SQL)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = SIM.brute_force_topk(emb, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _sign_bucket_sql(vec: str, n_bits: int, mus: str | None = None) -> str:
    """Sign-bucket expression; with ``mus`` set, the CENTERED form
    (bit j = vec[j] - mus[j] > 0) mirroring ``similarity.sign_bucket`` —
    one IEEE double subtraction per bit, bit-identical cross-engine."""
    terms = []
    for j in range(n_bits):
        comp = f"CAST({vec}[{j + 1}] AS DOUBLE)"
        if mus is not None:
            comp = f"({comp} - {mus}[{j + 1}])"
        terms.append(
            f"(CASE WHEN {comp} > 0 THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def _nb_cte(src: str, target_bucket_rows: int, lo: int = 4, hi: int = 24) -> str:
    """CTEs ``nbn, nb``: the corpus-derived sign-bucket width — the DuckDB
    mirror of ``similarity.auto_bits``/``derive_bits``. Same threshold-count
    form (``lo + |{j in [lo, hi_eff) : n > target * 2^j}|`` with ``hi_eff``
    capped at the min vector length), pure integer comparisons in both
    engines, so the derived bit count is bit-exact cross-engine at ANY
    scale factor — the property that lets the oracle stay static SQL while
    the width adapts to the corpus."""
    return f"""nbn AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           greatest({lo}, least({hi},
               coalesce(CAST(min(len(embedding)) AS INT), {lo}))) AS hi_eff
    FROM {src}
),
nb AS (
    SELECT {lo} + CAST(coalesce(list_sum(list_transform(range({lo}, hi_eff),
           j -> CASE WHEN n > {target_bucket_rows} * (CAST(1 AS BIGINT) << j)
                THEN 1 ELSE 0 END)), 0) AS INT) AS n_bits
    FROM nbn
)"""


def _sign_bucket_sql_dyn(vec: str, mus: str, nbits: str = "nb.n_bits") -> str:
    """Dynamic-width centered sign bucket (requires ``nb`` in the FROM
    list): the ``_sign_bucket_sql`` expression with the unrolled loop
    replaced by ``list_transform(range(0, n_bits), ...)`` — same one IEEE
    double subtraction and same power-of-two term per bit, so the bucket
    value is identical to Spark's ``sign_bucket`` at the derived width."""
    return (
        f"CAST(coalesce(list_sum(list_transform(range(0, {nbits}), "
        f"j -> CASE WHEN (CAST({vec}[j + 1] AS DOUBLE) - {mus}[j + 1]) > 0 "
        f"THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), 0) "
        f"AS BIGINT)"
    )


def _mu_ctes_dyn(src: str) -> str:
    """``_mu_ctes`` with the dimension count taken from the ``nb`` CTE
    (``_nb_cte`` must precede): exact per-dim means of the first
    ``n_bits`` embedding components, n_bits derived from the corpus."""
    comp = "CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)"
    guarded = (
        f"CASE WHEN {comp} IS NOT NULL AND NOT isnan({comp}) "
        f"AND abs({comp}) <= 1e308 "
        f"THEN CAST(round({comp}, 9) AS DECIMAL(25,9)) END"
    )
    return f"""nmu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {src}),
mudim AS (
    SELECT t.i AS i,
           CAST(sum({guarded}) AS DOUBLE)
               / CAST(max(nmu.n) AS DOUBLE) AS mu
    FROM {src}, unnest(range(0, (SELECT n_bits FROM nb))) AS t(i), nmu
    GROUP BY t.i
),
muarr AS (SELECT list(mu ORDER BY i) AS mus FROM mudim)"""


def _mu_ctes(src: str, n_bits: int) -> str:
    """CTEs ``nmu, mudim, muarr``: exact per-dim means of the first
    ``n_bits`` embedding components of ``src`` — the DuckDB mirror of
    ``similarity.component_means`` (DECIMAL(25,9) sums of 9-dp-snapped
    values, one exact double division; the embedding_covariance mean
    kernel sliced to the bucketed prefix)."""
    # non-finite guard mirrors similarity.component_means: NULL/NaN/overflow
    # components map to NULL (skipped by sum) in BOTH engines — DuckDB's
    # CAST(NaN AS DECIMAL) would otherwise error where Spark silently NULLs
    comp = f"CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)"
    guarded = (
        f"CASE WHEN {comp} IS NOT NULL AND NOT isnan({comp}) "
        f"AND abs({comp}) <= 1e308 "
        f"THEN CAST(round({comp}, 9) AS DECIMAL(25,9)) END"
    )
    return f"""nmu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {src}),
mudim AS (
    SELECT t.i AS i,
           CAST(sum({guarded}) AS DOUBLE)
               / CAST(max(nmu.n) AS DOUBLE) AS mu
    FROM {src}, unnest(range(0, {n_bits})) AS t(i), nmu
    GROUP BY t.i
),
muarr AS (SELECT list(mu ORDER BY i) AS mus FROM mudim)"""


_EMB2_SQL = """
emb2 AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10000 AS vec_id,
           -- CAST to DOUBLE first: DuckDB would otherwise multiply in FLOAT
           -- (it narrows the literal), diverging from Spark's promotion
           list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT)) AS embedding
    FROM embeddings
)
"""

_NEARDUP_SQL = f"""
WITH {_EMB2_SQL.strip()},
{_nb_cte("emb2", 1)},
{_mu_ctes_dyn("emb2")},
b AS (SELECT vec_id, embedding,
             {_sign_bucket_sql_dyn("embedding", "m.mus")} AS bucket
      FROM emb2, muarr m, nb)
SELECT l.vec_id AS id1, r.vec_id AS id2,
       {_cos("l.embedding", "r.embedding")} AS cosine
FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
WHERE {_cos("l.embedding", "r.embedding")} >= 0.99
"""


@register("embedding_neardup", _NEARDUP_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: (x * F.lit(1.001)).cast("float")).alias("embedding"),
    )
    emb2 = emb.unionByName(perturbed)
    # n_bits deliberately omitted: the corpus-derived default (the r10
    # verdict's one weak mark) is what this gate row now certifies — the
    # oracle derives the SAME width in SQL (_nb_cte, target 1)
    return SIM.embedding_neardup(emb2, threshold=0.99)


# LSH-bucketed ANN: the scale path — approximate, so the oracle mirrors the
# same bucketed algorithm (not brute force), keeping the check exact.
_ANN_LSH_SQL = f"""
WITH {_nb_cte("embeddings", 2)},
{_mu_ctes_dyn("embeddings")},
b AS (SELECT vec_id, embedding,
             {_sign_bucket_sql_dyn("embedding", "m.mus")} AS bucket
      FROM embeddings, muarr m, nb),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM b WHERE vec_id < 64),
scored AS (
    SELECT q.query_id, b.vec_id, {_cos("q.qvec", "b.embedding")} AS cosine
    FROM b JOIN q USING (bucket)
    WHERE q.query_id != b.vec_id
)
SELECT query_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("doc_token_budget", f"""
SELECT doc_id,
       CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}')) AS DOUBLE)
           / greatest(CAST(length(text) AS BIGINT), 1) AS tokens_per_char
FROM documents
""")
def q_doc_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting for LLM pipelines: whitespace words vs BPE-ish
    pre-tokens vs chars, per document."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    bpe = TX.bpe_token_count(t)
    n_chars = F.length(t).cast("long")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        n_chars.alias("n_chars"),
        (bpe.cast("double") / F.greatest(n_chars, F.lit(1))).alias("tokens_per_char"),
    )


@register("ann_ivf_topk", """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 AS INTEGER) AS k,
       TRUE AS recall_floor_met
FROM embeddings WHERE vec_id < 20
""")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (pyspark.ml k-means quantizer) under a RECALL-FLOOR oracle
    (r10 verdict #3, the ``dedup_minhash_recall`` discipline): the
    engine-defined part of IVF is only its centroids, so the query runs
    IVF *and* the exact brute-force truth in one plan and returns the
    hash-exact relation (n_queries, k, recall@k >= 0.35). Measured recall
    at the defaults is 0.47-0.57 across all fixtures (n_probe/n_cells =
    4/16 -> ~25% of the corpus scanned; the floor is deliberately below
    the band to absorb k-means seed drift, not to flatter it). An
    out-of-floor regression flips the boolean and fails the driver hash.
    Raw top-k rows stay covered by tests/test_ivf.py; the exactness
    anchor is ``ann_topk``; the engine-portable-quantizer twin is
    ``ann_ivf_recall``."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    k = 5
    # the quantizer fit runs on the NATURAL (unspread) scan: the ml fit
    # loop is one job per round, and the spread's repartition multiplied
    # every round's task fan-out (r15, guide §2.2 — build was 6.2 s of
    # which the fit dominated). The assignment/probe/score passes keep
    # the spread corpus.
    ivf = SIM.ivf_topk(
        emb, queries, k=k, n_probe=4,
        fit_corpus=read_table(spark, sf_dir, "embeddings", spread=False),
    )
    bf = SIM.brute_force_topk(emb, queries, k=k)
    hits = ivf.select("query_id", "vec_id").join(
        F.broadcast(bf.select("query_id", "vec_id")), ["query_id", "vec_id"]
    )
    per = (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(
            F.broadcast(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("h"))),
            "query_id",
            "left",
        )
        .na.fill({"h": 0})
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("h").alias("__hits"),
    ).select(
        "n_queries",
        F.lit(k).cast("int").alias("k"),
        (
            F.col("__hits").cast("double") / (F.col("n_queries") * F.lit(k))
            >= F.lit(0.35)
        ).alias("recall_floor_met"),
    )


# IVF recall gate: the quantizer is the DETERMINISTIC sampled-centroid one
# (similarity.fixed_centroid_cells) — SQL-expressible, so the whole
# IVF-vs-brute-force recall computation is oracle-checked end to end.
# n_cells is corpus-derived since r11 (similarity.auto_cells; the nc CTE
# mirrors it) — only k and the n_probe recall knob stay pinned here
_IVF_K, _IVF_PROBE = 10, 4
_IVF_HASH = "(vec_id % {m} * {a} + {c}) % {m}".format(
    m=SMP.SAMPLE_M, a=SMP.SAMPLE_A, c=SMP.SAMPLE_C
)

# corpus-derived IVF cell count (mirrors similarity.auto_cells exactly —
# integer ceil-div, both gate fixtures land on the lo clamp so the switch
# to auto changed no oracle value)
AUTO_CELLS_LO, AUTO_CELLS_HI = SIM.AUTO_CELLS_LO, SIM.AUTO_CELLS_HI
_CELLS_B_SQL = (
    "(SELECT CAST(count(*) AS INTEGER) FROM range(0, {d}) t(j), "
    "(SELECT count(*) AS n FROM embeddings) nn "
    "WHERE nn.n > CAST({t} AS BIGINT) * (1 << CAST(t.j AS INTEGER)))"
).format(d=SIM._CELLS_DOUBLINGS, t=SIM.TARGET_CELL_ROWS)
_NC_SQL = (
    f"nc AS (SELECT GREATEST({AUTO_CELLS_LO}, LEAST({AUTO_CELLS_HI}, "
    f"1 << (({_CELLS_B_SQL} + 1) // 2))) AS c)"
)

_ANN_IVF_RECALL_SQL = f"""
WITH {_NC_SQL},
cents AS (
    SELECT cell, cvec FROM (
        SELECT vec_id AS cell, embedding AS cvec,
               row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS rn
        FROM embeddings
    ) rr, nc WHERE rr.rn <= nc.c
),
assigned AS (
    SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos("e.embedding", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 20),
probes AS (
    SELECT query_id, qvec, cell FROM (
        SELECT q.query_id, q.qvec, c.cell,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos("q.qvec", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= {_IVF_PROBE}
),
ivf AS (
    SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_cos("p.qvec", "a.embedding")} DESC, a.vec_id ASC
               ) AS rn
        FROM assigned a JOIN probes p USING (cell)
        WHERE p.query_id != a.vec_id
    ) WHERE rn <= {_IVF_K}
),
bf AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos("q.qvec", "e.embedding")} DESC, e.vec_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE q.query_id != e.vec_id
    ) WHERE rn <= {_IVF_K}
),
hits AS (
    SELECT q.query_id, count(x.vec_id) AS h
    FROM q LEFT JOIN (
        SELECT i.query_id, i.vec_id FROM ivf i
        JOIN bf b ON b.query_id = i.query_id AND b.vec_id = i.vec_id
    ) x ON x.query_id = q.query_id
    GROUP BY q.query_id
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST({_IVF_K} AS INTEGER) AS k,
       CAST(sum(h) AS DOUBLE) / (count(*) * {_IVF_K}) AS recall_at_k,
       CAST(min(h) AS DOUBLE) / {_IVF_K} AS min_recall
FROM hits
"""


@register("ann_ivf_recall", _ANN_IVF_RECALL_SQL)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality gate: recall@k of the deterministic sampled-centroid
    IVF vs exact brute force, one scalar row — oracle-checked end to end
    because quantizer, assignment, probing, ranking, and the
    integer-until-the-last-division recall math are all engine-portable
    (round-4 verdict prescription 4)."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return SIM.ivf_recall(
        emb, queries, k=_IVF_K, n_probe=_IVF_PROBE
    )


# PQ/ADC ANN (Jégou et al. 2011): m-subspace codebooks from the SAME
# deterministic hash-sampled pick as the fixed-centroid IVF, per-subspace
# argmin codes, asymmetric-distance scan via an (m x n_cents) LUT join.
# Every partial distance snaps to DECIMAL(25,9) before the ADC sum, so
# the whole ranking is value-hashable (the ann_lsh_topk discipline).
_PQ_M, _PQ_DSUB, _PQ_CENTS, _PQ_K = 8, 8, 16, 5

from big_data_elt_pipeline_spark.operators.ann_index import (  # noqa: E402
    AUDIT_CHUNK_TARGET as _AUDIT_CHUNK,
)


def _pq_subdist_sql(vec: str, cvec: str) -> str:
    return (
        f"list_sum(list_transform(range(0, {_PQ_DSUB}), "
        f"i -> (CAST({vec}[js.j * {_PQ_DSUB} + i + 1] AS DOUBLE)"
        f" - CAST({cvec}[js.j * {_PQ_DSUB} + i + 1] AS DOUBLE))"
        f" * (CAST({vec}[js.j * {_PQ_DSUB} + i + 1] AS DOUBLE)"
        f" - CAST({cvec}[js.j * {_PQ_DSUB} + i + 1] AS DOUBLE))))"
    )


_ANN_PQ_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    ORDER BY {_IVF_HASH}, vec_id
    LIMIT {_PQ_CENTS}
),
js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
codes AS (
    SELECT vec_id, j, cid AS code FROM (
        SELECT e.vec_id, js.j, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, js.j
                   ORDER BY {_pq_subdist_sql('e.embedding', 'c.cvec')} ASC,
                            c.cid ASC) AS rn
        FROM embeddings e, js, cents c
    ) WHERE rn = 1
),
lut AS (
    SELECT q.vec_id AS query_id, js.j, c.cid AS code,
           CAST(round({_pq_subdist_sql('q.embedding', 'c.cvec')}, 9)
                AS DECIMAL(25,9)) AS pd
    FROM embeddings q, js, cents c
    WHERE q.vec_id < 16
),
scored AS (
    SELECT l.query_id, co.vec_id, CAST(sum(l.pd) AS DOUBLE) AS adc_l2sq
    FROM codes co JOIN lut l ON l.j = co.j AND l.code = co.code
    WHERE l.query_id != co.vec_id
    GROUP BY l.query_id, co.vec_id
)
SELECT query_id, vec_id, adc_l2sq,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc_l2sq ASC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {_PQ_K}
"""


@register("ann_pq_topk", _ANN_PQ_SQL)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with asymmetric distance computation: 8
    one-byte-equivalent codes per 64-dim vector (a 32x memory cut over
    float32 — the billion-scale in-memory scan recipe), queries scored by
    m LUT lookups, decimal-snapped partials so the driver hash checks the
    full ranking. Contract in ``operators/similarity.pq_topk``."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 16)
    return SIM.pq_topk(
        emb, queries, k=_PQ_K, m=_PQ_M, dsub=_PQ_DSUB, n_cents=_PQ_CENTS
    )


# IVF-PQ: the coarse-quantizer cell join prunes candidates to
# n_probe/n_cells of the corpus, the PQ LUT pays for the scan — FAISS's
# IVFx,PQy composition (Jégou et al. 2011 §V). Both quantizers are the
# deterministic hash-sampled pick, so the full pruned ADC ranking is
# oracle-checked end to end. The statement is generated from the query-
# set predicate so the stored-index probe query (``ann_index_probe``,
# disjoint query ids) shares the identical CTE body — the oracle for a
# stored-index probe IS the from-scratch recomputation.
def _ivfpq_sql(
    q_pred: str,
    excl_pred: str | None = None,
    k: int = _PQ_K,
    corpus_src: str = "embeddings",
) -> str:
    """``excl_pred`` (over ``co.vec_id``) drops candidates from the scored
    relation — the oracle twin of a tombstone anti-join: quantizers and
    codes still derive from the FULL corpus (deletes never retrain), only
    the candidate set shrinks (``ann_index.delete_from_index``). ``k``
    widens the ranked cut for candidate-depth consumers (the hybrid
    fusion leg). ``corpus_src`` swaps the ENCODED relation (assignments
    + codes) while quantizer training stays on the raw ``embeddings`` —
    the oracle twin of ``ann_index.update_index_vectors``, which
    re-encodes against the immutable stored quantizers."""
    excl = f" AND NOT ({excl_pred})" if excl_pred else ""
    return f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    ORDER BY {_IVF_HASH}, vec_id
    LIMIT {_PQ_CENTS}
),
{_NC_SQL},
cells AS (
    SELECT cell, cvec FROM (
        SELECT vec_id AS cell, embedding AS cvec,
               row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS rn
        FROM embeddings
    ) rr, nc WHERE rr.rn <= nc.c
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos("e.embedding", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM {corpus_src} e CROSS JOIN cells c
    ) WHERE rn = 1
),
js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
codes AS (
    SELECT vec_id, j, cid AS code FROM (
        SELECT e.vec_id, js.j, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, js.j
                   ORDER BY {_pq_subdist_sql('e.embedding', 'c.cvec')} ASC,
                            c.cid ASC) AS rn
        FROM {corpus_src} e, js, cents c
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE {q_pred}),
probes AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos("q.qvec", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM q CROSS JOIN cells c
    ) WHERE rn <= {_IVF_PROBE}
),
lut AS (
    SELECT q.query_id, js.j, c.cid AS code,
           CAST(round({_pq_subdist_sql('q.qvec', 'c.cvec')}, 9)
                AS DECIMAL(25,9)) AS pd
    FROM q, js, cents c
),
scored AS (
    SELECT l.query_id, co.vec_id, CAST(sum(l.pd) AS DOUBLE) AS adc_l2sq
    FROM codes co
    JOIN assigned a ON a.vec_id = co.vec_id
    JOIN probes p ON p.cell = a.cell
    JOIN lut l ON l.query_id = p.query_id AND l.j = co.j AND l.code = co.code
    WHERE p.query_id != co.vec_id{excl}
    GROUP BY l.query_id, co.vec_id
)
SELECT query_id, vec_id, adc_l2sq,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc_l2sq ASC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


_ANN_IVFPQ_SQL = _ivfpq_sql("vec_id < 16")


# MMR diversified rerank (Carbonell & Goldstein 1998): k unrolled
# selection rounds over the bounded candidate relation — the oracle
# replays each round as a CTE pair (scored pool -> argmax pick), the
# pagerank bounded-rounds discipline.
_MMR_K, _MMR_CAND, _MMR_NQ = 5, 20, 8
_MMR_LAM, _MMR_OM = "CAST(0.7 AS DOUBLE)", "CAST(0.3 AS DOUBLE)"


def _mmr_sql() -> str:
    head = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id < {_MMR_NQ}),
cand AS MATERIALIZED (
    SELECT query_id, vec_id, embedding, cosine FROM (
        SELECT q.query_id, e.vec_id, e.embedding,
               {_cos("q.qvec", "e.embedding")} AS cosine,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos("q.qvec", "e.embedding")} DESC, e.vec_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.query_id
    ) WHERE rn <= {_MMR_CAND}
),
sim AS MATERIALIZED (
    SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
           {_cos("a.embedding", "b.embedding")} AS s
    FROM cand a JOIN cand b
      ON b.query_id = a.query_id AND b.vec_id != a.vec_id
),
sel1 AS MATERIALIZED (
    SELECT query_id, vec_id, cosine, CAST(0.0 AS DOUBLE) AS max_sim,
           {_MMR_LAM} * cosine AS mmr_score, 1 AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM cand
    ) WHERE rn = 1
)"""
    rounds = []
    for r in range(2, _MMR_K + 1):
        p = r - 1
        rounds.append(f""",
pool{r} AS (
    SELECT c.query_id, c.vec_id, c.cosine, m.ms AS max_sim,
           {_MMR_LAM} * c.cosine - {_MMR_OM} * m.ms AS mmr_score
    FROM cand c
    JOIN (
        SELECT s.query_id, s.a_id, max(s.s) AS ms
        FROM sim s JOIN sel{p} t
          ON t.query_id = s.query_id AND t.vec_id = s.b_id
        GROUP BY s.query_id, s.a_id
    ) m ON m.query_id = c.query_id AND m.a_id = c.vec_id
    WHERE NOT EXISTS (
        SELECT 1 FROM sel{p} u
        WHERE u.query_id = c.query_id AND u.vec_id = c.vec_id
    )
),
sel{r} AS MATERIALIZED (
    SELECT * FROM sel{p}
    UNION ALL
    SELECT query_id, vec_id, cosine, max_sim, mmr_score, {r} AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY mmr_score DESC, vec_id ASC) AS rn
        FROM pool{r}
    ) WHERE rn = 1
)""")
    tail = f"""
SELECT query_id, vec_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
       cosine AS relevance, max_sim, mmr_score
FROM sel{_MMR_K}
"""
    return head + "".join(rounds) + tail


@register("mmr_rerank", _mmr_sql())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: exact-cosine candidates, then k MMR rounds over
    the bounded n_queries x n_cand relation (never corpus-sized — the ANN
    front end is the scale path; the rerank is candidate-local). Contract
    in ``operators/similarity.mmr_rerank``."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < _MMR_NQ)
    return SIM.mmr_rerank(emb, queries, k=_MMR_K, n_cand=_MMR_CAND, lam=0.7)


@register("ann_ivfpq_topk", _ANN_IVFPQ_SQL)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: cell-pruned candidates (n_probe/n_cells of the corpus)
    scored by the m-lookup ADC scan — the billion-vector serving
    composition both halves exist for. One map pass encodes cell + codes
    per corpus vector against two broadcast one-row state frames; the scan
    is two broadcast equi-joins + one partial-aggregated decimal sum.
    Contract in ``operators/similarity.ivfpq_topk``."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 16)
    return SIM.ivfpq_topk(
        emb, queries, k=_PQ_K, n_probe=_IVF_PROBE,
        m=_PQ_M, dsub=_PQ_DSUB, n_cents=_PQ_CENTS,
    )


# --------------------------------------------------------------------------
# Persisted ANN index (r11 verdict #2: build once / probe many). The
# build runs once per process (the staged-source discipline) through the
# lakehouse writer; the two queries then certify the SERVING read path:
# the audit re-hashes the stored codes against the oracle's from-scratch
# recomputation (index content), and the probe answers a disjoint query
# set from the stored codes alone (index answers) — the oracle recomputes
# the same ranking from the raw corpus, so a hash match proves
# stored-index == per-call == cross-engine.
# --------------------------------------------------------------------------

_ANN_INDEX_PROBE_SQL = _ivfpq_sql("vec_id >= 16 AND vec_id < 32")

_ANN_INDEX_AUDIT_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    ORDER BY {_IVF_HASH}, vec_id
    LIMIT {_PQ_CENTS}
),
{_NC_SQL},
cells AS (
    SELECT cell, cvec FROM (
        SELECT vec_id AS cell, embedding AS cvec,
               row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS rn
        FROM embeddings
    ) rr, nc WHERE rr.rn <= nc.c
),
assigned AS (
    SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos("e.embedding", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cells c
    ) WHERE rn = 1
),
js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
codes AS (
    SELECT vec_id, j, cid AS code FROM (
        SELECT e.vec_id, js.j, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, js.j
                   ORDER BY {_pq_subdist_sql('e.embedding', 'c.cvec')} ASC,
                            c.cid ASC) AS rn
        FROM embeddings e, js, cents c
    ) WHERE rn = 1
),
cc AS (
    -- audit chunk count: exact integer ceil(n / (n_cells * chunk_target)),
    -- the identical arithmetic ann_index.index_audit computes from the
    -- state params (AUDIT_CHUNK_TARGET mirrored as a literal)
    SELECT CAST(greatest(1,
        ((SELECT count(*) FROM embeddings) + nc.c * {_AUDIT_CHUNK} - 1)
            // (nc.c * {_AUDIT_CHUNK})
    ) AS BIGINT) AS c FROM nc
),
chunkhash AS (
    SELECT a.cell, co.vec_id % cc.c AS chunk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT co.vec_id) AS BIGINT) AS n_vecs,
           md5(string_agg(
               CAST(co.vec_id AS VARCHAR) || ':' || CAST(co.j AS VARCHAR)
                   || ':' || CAST(co.code AS VARCHAR),
               ',' ORDER BY co.vec_id, co.j)) AS h
    FROM codes co JOIN assigned a ON a.vec_id = co.vec_id, cc
    GROUP BY a.cell, co.vec_id % cc.c
),
cellhash AS (
    SELECT cell,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
           md5(string_agg(
               CAST(chunk AS VARCHAR) || ':' || h,
               ',' ORDER BY chunk)) AS h
    FROM chunkhash
    GROUP BY cell
)
SELECT CAST(sum(n_vecs) AS BIGINT) AS n_vectors,
       CAST(sum(n_rows) AS BIGINT) AS n_code_rows,
       CAST(count(*) AS BIGINT) AS n_cells_used,
       (SELECT CAST(c AS INTEGER) FROM nc) AS n_cells,
       CAST({_PQ_M} AS INTEGER) AS m,
       CAST({_PQ_DSUB} AS INTEGER) AS dsub,
       CAST({_PQ_CENTS} AS INTEGER) AS n_cents,
       CAST(0 AS BIGINT) AS n_tombstones,
       md5(string_agg(CAST(cell AS VARCHAR) || ':' || h, ',' ORDER BY cell))
           AS codes_hash
FROM cellhash
"""


def _staged_index(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[SparkSession, str, str], None],
    mutate: Callable[[SparkSession, str, str], None] | None = None,
) -> str:
    """Lakehouse root of a gate query's index, staged once per
    ``staging_dir(name, sf_dir)`` root (process and corpus version).
    ``build(spark, sf_dir, idx)`` runs when the index has no
    publish row (ANN ``state`` / text ``stats``); ``mutate(spark, sf_dir,
    idx)`` then runs once, while it has no tombstones. A mutated index
    stages under its own name: mutating a shared one would corrupt the
    other gate queries."""
    from big_data_elt_pipeline_spark.lakehouse import table_versions
    from big_data_elt_pipeline_spark.streaming import staging_dir

    idx = f"{staging_dir(name, sf_dir)}/index"
    if not (table_versions(f"{idx}/state") or table_versions(f"{idx}/stats")):
        build(spark, sf_dir, idx)
    if mutate is not None and not table_versions(f"{idx}/tombstones"):
        mutate(spark, sf_dir, idx)
    return idx


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "embedding")


def _build_ann(spark: SparkSession, sf_dir: str, idx: str, emb=None) -> None:
    """The gate's IVF-PQ index over ``emb`` (default: the corpus)."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    # n_files=8: at fixture scale the clustered write would otherwise
    # collapse to one file and the probe's per-cell file skipping
    # would be vacuously exercised
    AIX.build_ivfpq_index(
        _embeddings(spark, sf_dir) if emb is None else emb, idx,
        m=_PQ_M, dsub=_PQ_DSUB, n_cents=_PQ_CENTS, n_files=8,
    )


@register("ann_index_audit", _ANN_INDEX_AUDIT_SQL)
def q_ann_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-index content verification: the two-level cell hash of the
    PERSISTED (vec_id, cell, j, code) relation plus the stored quantizer
    params, against an oracle that re-derives the whole encode from the
    raw corpus — any corruption, partial build, or quantizer drift flips
    ``codes_hash``. Contract in ``operators/ann_index.index_audit``."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    idx = _staged_index(spark, sf_dir, "ann_index", _build_ann)
    return AIX.index_audit(spark, idx)


@register("ann_index_probe", _ANN_INDEX_PROBE_SQL)
def q_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k from the STORED index — no corpus re-encode in this plan
    (the serving path IVFPIN.json motivates): quantizer state is one
    stored broadcast row, candidates come from the manifest-pruned codes
    scan. Disjoint query ids from the gated ``ann_ivfpq_topk`` so the two
    queries certify different executions of the shared scan. Contract in
    ``operators/ann_index.ivfpq_probe``."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    idx = _staged_index(spark, sf_dir, "ann_index", _build_ann)
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 32))
    return AIX.ivfpq_probe(
        spark, idx, queries, k=_PQ_K, n_probe=_IVF_PROBE
    )


# Index mutation + drift monitoring (r12 verdict #2). The delete query
# runs on its OWN staged index copy (the shared one stays pristine for
# the other gate queries); the oracle twin drops the same candidate set
# from a from-scratch recomputation, so the driver hash certifies the
# tombstone anti-join end to end. The recall gate runs the ivf_recall
# discipline against the PERSISTED index with the exact-L2 ground truth.
# --------------------------------------------------------------------------

_DEL_PRED_SQL = "co.vec_id % 7 = 0"  # the deterministic tombstone set

_ANN_INDEX_DELETE_SQL = _ivfpq_sql("vec_id < 8", _DEL_PRED_SQL)


def _delete_ann_sevens(spark: SparkSession, sf_dir: str, idx: str) -> None:
    """The deterministic tombstone set: every vec_id % 7 == 0."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    AIX.delete_from_index(
        _embeddings(spark, sf_dir).filter(F.col("vec_id") % 7 == 0), idx
    )


@register("ann_index_delete", _ANN_INDEX_DELETE_SQL)
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k from a stored index AFTER ``delete_from_index``: the
    tombstoned vectors (vec_id % 7 == 0) must vanish from every ranking
    while quantizers and surviving codes stay untouched (logical delete,
    the Delta deletion-vector shape). The oracle recomputes the full
    encode from the raw corpus and drops the same candidate set, so the
    hash certifies the anti-join exactly. Contract in
    ``operators/ann_index.delete_from_index``."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    idx = _staged_index(
        spark, sf_dir, "ann_index_del", _build_ann, _delete_ann_sevens
    )
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8)
    return AIX.ivfpq_probe(spark, idx, queries, k=_PQ_K, n_probe=_IVF_PROBE)


_RECALL_QPRED = "vec_id >= 48 AND vec_id < 64"
_RECALL_FLOOR = "CAST(0.05 AS DOUBLE)"
_EMB_D = _PQ_M * _PQ_DSUB


def _l2_sql(a: str, b: str) -> str:
    """Exact squared-L2 over the full vector — the same left-to-right
    ``list_sum(list_transform(...))`` fold as ``_pq_subdist_sql``, spanning
    all {_EMB_D} dims (mirrors ``similarity.l2sq``)."""
    return (
        f"list_sum(list_transform(range(0, {_EMB_D}), "
        f"i -> (CAST({a}[i + 1] AS DOUBLE) - CAST({b}[i + 1] AS DOUBLE))"
        f" * (CAST({a}[i + 1] AS DOUBLE) - CAST({b}[i + 1] AS DOUBLE))))"
    )


_ANN_INDEX_RECALL_SQL = f"""
WITH ivf AS (
    SELECT query_id, vec_id FROM ({_ivfpq_sql(_RECALL_QPRED)}) t
),
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE {_RECALL_QPRED}),
bf AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_l2_sql("q.qvec", "e.embedding")} ASC,
                            e.vec_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE q.query_id != e.vec_id
    ) WHERE rn <= {_PQ_K}
),
hits AS (
    SELECT q.query_id, count(x.vec_id) AS h
    FROM q LEFT JOIN (
        SELECT i.query_id, i.vec_id FROM ivf i
        JOIN bf b ON b.query_id = i.query_id AND b.vec_id = i.vec_id
    ) x ON x.query_id = q.query_id
    GROUP BY q.query_id
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST({_PQ_K} AS INTEGER) AS k,
       CAST(sum(h) AS DOUBLE) / (count(*) * {_PQ_K}) AS recall_at_k,
       CAST(min(h) AS DOUBLE) / {_PQ_K} AS min_recall,
       CAST(sum(h) AS DOUBLE) / (count(*) * {_PQ_K}) >= {_RECALL_FLOOR}
           AS floor_ok
FROM hits
"""


@register("ann_index_recall", _ANN_INDEX_RECALL_SQL)
def q_ann_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-index drift monitor: recall@k of the PERSISTED IVF-PQ index
    against exact squared-L2 brute force on a deterministic sampled query
    set (disjoint from every other index query), one scalar row with a
    shared-literal floor boolean. The recall VALUE itself is
    deterministic (probe and ground truth both are), so the driver hash
    pins it exactly — measured 0.11-0.15 at both fixture SFs vs the
    ~0.008 random baseline; floor 0.05 flags quantizer drift after
    appends (``ann_index.append_to_index``'s immutable-quantizer note).
    Contract in ``operators/ann_index.index_recall``."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    idx = _staged_index(spark, sf_dir, "ann_index", _build_ann)
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter((F.col("vec_id") >= 48) & (F.col("vec_id") < 64))
    return AIX.index_recall(
        spark, idx, emb, queries, k=_PQ_K, n_probe=_IVF_PROBE, floor=0.05
    )


# Document-update composition (r13 verdict #6): update_index_vectors =
# delete + append under ONE state publish. The gate re-encodes a
# deterministic slice of the corpus (vec_id % 5 == 0, elements mapped
# x -> x*0.5 + 0.25 — exact in IEEE doubles on both engines) against the
# IMMUTABLE stored quantizers, then probes the mutated index; the oracle
# trains quantizers on the RAW corpus but encodes the UPDATED one — the
# from-scratch twin of the stored re-encode. A stale generation leaking
# through the tombstone scope (or a lost new generation) flips the hash.
_UPD_CORPUS_SQL = (
    "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 != 0"
    " UNION ALL"
    " SELECT vec_id, list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * 0.5 + 0.25) AS embedding"
    " FROM embeddings WHERE vec_id % 5 = 0)"
)

_ANN_INDEX_UPDATE_SQL = _ivfpq_sql(
    "vec_id >= 8 AND vec_id < 16", corpus_src=_UPD_CORPUS_SQL
)


def _update_ann_fives(spark: SparkSession, sf_dir: str, idx: str) -> None:
    """The deterministic update batch: every vec_id % 5 == 0 re-encoded."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    upd = _embeddings(spark, sf_dir).filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(0.5) + F.lit(0.25)
        ).alias("embedding"),
    )
    AIX.update_index_vectors(upd, idx, n_files=8)


@register("ann_index_update", _ANN_INDEX_UPDATE_SQL)
def q_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k from a stored index AFTER ``update_index_vectors``: every
    vec_id % 5 == 0 vector re-encoded in place (generation-scoped
    tombstone + re-append under one atomic state publish), probed with a
    disjoint query set. The oracle recomputes the encode of the UPDATED
    corpus against quantizers trained on the raw corpus — exactly what
    the stored index must now hold. Contract in
    ``operators/ann_index.update_index_vectors``."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    idx = _staged_index(
        spark, sf_dir, "ann_index_upd", _build_ann, _update_ann_fives
    )
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    return AIX.ivfpq_probe(spark, idx, queries, k=_PQ_K, n_probe=_IVF_PROBE)


# Streaming ANN serving (r12 second wave): the retrieval loop the
# persisted index exists for — a query-vector stream probed per
# micro-batch against the STORED codes, each batch landing as one
# idempotent lakehouse commit. The oracle re-derives the entire ranking
# (encode + probe + ADC) from the raw corpus for the same disjoint
# query set and recomputes the content checksums, so the driver hash
# certifies stream == batch == stored-index == cross-engine.
_STREAM_ANN_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_stream,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(rank) AS BIGINT) AS sum_rank,
       CAST(sum(CAST(round(adc_l2sq * 1000000000.0, 0) AS BIGINT))
            AS BIGINT) AS sum_adc_nanos,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
FROM ({_ivfpq_sql("vec_id >= 32 AND vec_id < 48")}) t
"""


@register("stream_ann_probe", _STREAM_ANN_SQL)
def q_stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stored-index ANN serving under HASH evidence: the
    embeddings file stream (query ids 32-47, disjoint from both batch
    index queries) probes the persisted IVF-PQ index inside
    ``foreachBatch`` (the ADC scan's agg + ranking window are per-batch
    batch ops), lands each epoch as one txn-tagged exactly-once
    lakehouse commit, and the returned relation compares the sink
    against the batch probe twin with rank/adc-nanos checksums.
    Contract in ``streaming/ann_serving.py``; sink folds from an empty
    state dir every invocation (the ``staging_dir`` state-wipe
    discipline)."""
    from big_data_elt_pipeline_spark.streaming.ann_serving import (
        stream_index_probe_evidence,
    )
    from big_data_elt_pipeline_spark.streaming import staging_dir

    idx = _staged_index(spark, sf_dir, "ann_index", _build_ann)
    out = f"{staging_dir('stream_ann', sf_dir)}/state/out"
    return stream_index_probe_evidence(spark, sf_dir, idx, out)


# --------------------------------------------------------------------------
# stream_retrieval_loop (r12 verdict #5): the serving loop END TO END as
# one evidence relation — stream ingest (append_to_index per micro-batch,
# exactly-once) -> stored-index probe -> exact-cosine rescore ->
# mmr_rerank over the probe candidates — the actual RAG-shaped product
# path, which until now was gated only stage by stage. The oracle
# re-derives EVERYTHING from the raw corpus: quantizers sampled from the
# BASE corpus only (the delta arrives by stream, encoded against the
# stored immutable state), codes for base+delta, the pruned ADC ranking,
# the rescore, the k unrolled MMR rounds, and the chunked content hash of
# the post-ingest codes table — so one driver hash certifies ingest
# completeness (a lost or duplicated epoch flips codes_hash), candidate
# generation, and the rerank in a single relation.
# --------------------------------------------------------------------------

_LOOP_DELTA = (64, 80)   # streamed-ingest rows
_LOOP_Q = (80, 88)       # probe queries, disjoint from every other set
_LOOP_CAND = 20          # ANN candidate depth feeding MMR
_LOOP_K = 5              # MMR picks


def _stream_loop_sql() -> str:
    d_lo, d_hi = _LOOP_DELTA
    q_lo, q_hi = _LOOP_Q
    base_pred = f"NOT (vec_id >= {d_lo} AND vec_id < {d_hi})"
    q_pred = f"vec_id >= {q_lo} AND vec_id < {q_hi}"
    cells_b = (
        "(SELECT CAST(count(*) AS INTEGER) FROM range(0, {d}) t(j), "
        "(SELECT count(*) AS n FROM base) nn "
        "WHERE nn.n > CAST({t} AS BIGINT) * (1 << CAST(t.j AS INTEGER)))"
    ).format(d=SIM._CELLS_DOUBLINGS, t=SIM.TARGET_CELL_ROWS)
    rounds = []
    for r in range(2, _LOOP_K + 1):
        p = r - 1
        rounds.append(f""",
pool{r} AS (
    SELECT c.query_id, c.vec_id, c.cosine, m.ms AS max_sim,
           {_MMR_LAM} * c.cosine - {_MMR_OM} * m.ms AS mmr_score
    FROM cand c
    JOIN (
        SELECT s.query_id, s.a_id, max(s.s) AS ms
        FROM sim s JOIN sel{p} t
          ON t.query_id = s.query_id AND t.vec_id = s.b_id
        GROUP BY s.query_id, s.a_id
    ) m ON m.query_id = c.query_id AND m.a_id = c.vec_id
    WHERE NOT EXISTS (
        SELECT 1 FROM sel{p} u
        WHERE u.query_id = c.query_id AND u.vec_id = c.vec_id
    )
),
sel{r} AS MATERIALIZED (
    SELECT * FROM sel{p}
    UNION ALL
    SELECT query_id, vec_id, cosine, max_sim, mmr_score, {r} AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY mmr_score DESC, vec_id ASC) AS rn
        FROM pool{r}
    ) WHERE rn = 1
)""")
    return f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings WHERE {base_pred}
),
nc AS (SELECT GREATEST({AUTO_CELLS_LO}, LEAST({AUTO_CELLS_HI},
    1 << (({cells_b} + 1) // 2))) AS c),
cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM base
    ORDER BY {_IVF_HASH}, vec_id
    LIMIT {_PQ_CENTS}
),
cells AS (
    SELECT cell, cvec FROM (
        SELECT vec_id AS cell, embedding AS cvec,
               row_number() OVER (ORDER BY {_IVF_HASH}, vec_id) AS rn
        FROM base
    ) rr, nc WHERE rr.rn <= nc.c
),
assigned AS MATERIALIZED (
    SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos("e.embedding", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cells c
    ) WHERE rn = 1
),
js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
-- MATERIALIZED: scoredc and chunkhash both consume these; inlined CTEs
-- would recompute the corpus-sized encode windows twice
codes AS MATERIALIZED (
    SELECT vec_id, j, cid AS code FROM (
        SELECT e.vec_id, js.j, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, js.j
                   ORDER BY {_pq_subdist_sql('e.embedding', 'c.cvec')} ASC,
                            c.cid ASC) AS rn
        FROM embeddings e, js, cents c
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE {q_pred}),
probes AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos("q.qvec", "c.cvec")} DESC, c.cell ASC
               ) AS rn
        FROM q CROSS JOIN cells c
    ) WHERE rn <= {_IVF_PROBE}
),
lut AS (
    SELECT q.query_id, js.j, c.cid AS code,
           CAST(round({_pq_subdist_sql('q.qvec', 'c.cvec')}, 9)
                AS DECIMAL(25,9)) AS pd
    FROM q, js, cents c
),
scoredc AS (
    SELECT l.query_id, co.vec_id, CAST(sum(l.pd) AS DOUBLE) AS adc_l2sq
    FROM codes co
    JOIN assigned a ON a.vec_id = co.vec_id
    JOIN probes p ON p.cell = a.cell
    JOIN lut l ON l.query_id = p.query_id AND l.j = co.j AND l.code = co.code
    WHERE p.query_id != co.vec_id
    GROUP BY l.query_id, co.vec_id
),
candrank AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_l2sq ASC, vec_id ASC) AS rank
        FROM scoredc
    ) WHERE rank <= {_LOOP_CAND}
),
cand AS MATERIALIZED (
    SELECT cr.query_id, cr.vec_id, e.embedding,
           {_cos("q.qvec", "e.embedding")} AS cosine
    FROM candrank cr
    JOIN embeddings e ON e.vec_id = cr.vec_id
    JOIN q ON q.query_id = cr.query_id
),
sim AS MATERIALIZED (
    SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
           {_cos("a.embedding", "b.embedding")} AS s
    FROM cand a JOIN cand b
      ON b.query_id = a.query_id AND b.vec_id != a.vec_id
),
sel1 AS MATERIALIZED (
    SELECT query_id, vec_id, cosine, CAST(0.0 AS DOUBLE) AS max_sim,
           {_MMR_LAM} * cosine AS mmr_score, 1 AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM cand
    ) WHERE rn = 1
){''.join(rounds)},
cc AS (
    SELECT CAST(greatest(1,
        ((SELECT count(*) FROM embeddings) + nc.c * {_AUDIT_CHUNK} - 1)
            // (nc.c * {_AUDIT_CHUNK})
    ) AS BIGINT) AS c FROM nc
),
chunkhash AS (
    SELECT a.cell, co.vec_id % cc.c AS chunk,
           md5(string_agg(
               CAST(co.vec_id AS VARCHAR) || ':' || CAST(co.j AS VARCHAR)
                   || ':' || CAST(co.code AS VARCHAR),
               ',' ORDER BY co.vec_id, co.j)) AS h
    FROM codes co JOIN assigned a ON a.vec_id = co.vec_id, cc
    GROUP BY a.cell, co.vec_id % cc.c
),
cellhash AS (
    SELECT cell,
           md5(string_agg(CAST(chunk AS VARCHAR) || ':' || h,
                          ',' ORDER BY chunk)) AS h
    FROM chunkhash GROUP BY cell
),
auditrow AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
           md5(string_agg(CAST(cell AS VARCHAR) || ':' || h,
                          ',' ORDER BY cell)) AS codes_hash
    FROM cellhash
)
SELECT m.query_id, m.vec_id, CAST(m.mmr_rank AS INTEGER) AS mmr_rank,
       m.cosine AS relevance, m.max_sim, m.mmr_score,
       a.n_vectors, a.codes_hash
FROM sel{_LOOP_K} m, auditrow a
ORDER BY m.query_id, m.mmr_rank
"""


def _build_stream_loop(spark: SparkSession, sf_dir: str, idx: str) -> None:
    """Build the base index (corpus MINUS the delta rows), then STREAM
    the delta in via per-micro-batch ``append_to_index``."""
    from big_data_elt_pipeline_spark.streaming.ann_serving import (
        stream_index_ingest,
    )

    d_lo, d_hi = _LOOP_DELTA
    base = _embeddings(spark, sf_dir).filter(
        ~((F.col("vec_id") >= d_lo) & (F.col("vec_id") < d_hi))
    )
    _build_ann(spark, sf_dir, idx, base)
    stream_index_ingest(spark, sf_dir, idx, d_lo, d_hi, n_files=2)


@register("stream_retrieval_loop", _stream_loop_sql())
def q_stream_retrieval_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving loop end to end under one driver hash: streamed index
    ingest (exactly-once append_to_index per epoch) -> stored-index ANN
    candidates -> exact-cosine rescore (candidate-local) -> MMR
    diversified top-k, with the post-ingest index content hash riding
    every row — ingest loss, candidate drift, and rerank errors all flip
    the hash. Contracts in ``streaming/ann_serving.stream_index_ingest``,
    ``operators/ann_index.ivfpq_probe``, ``operators/similarity.
    mmr_rerank`` (candidate front-end form)."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    q_lo, q_hi = _LOOP_Q
    idx = _staged_index(spark, sf_dir, "stream_loop", _build_stream_loop)
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi))

    cand_ids = AIX.ivfpq_probe(
        spark, idx, queries, k=_LOOP_CAND, n_probe=_IVF_PROBE
    ).select("query_id", "vec_id")
    emb_n = emb.select(
        "vec_id", "embedding", SIM.norm(F.col("embedding")).alias("__cn")
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        SIM.norm(F.col("embedding")).alias("__qn"),
    )
    cand = (
        cand_ids.join(emb_n, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.try_divide(
                SIM.dot(F.col("qvec"), F.col("embedding")),
                F.col("__qn") * F.col("__cn"),
            ).alias("cosine"),
        )
    )
    reranked = SIM.mmr_rerank(
        emb, queries, k=_LOOP_K, lam=0.7, candidates=cand
    )
    audit = AIX.index_audit(spark, idx).select("n_vectors", "codes_hash")
    return (
        reranked.crossJoin(F.broadcast(audit))
        .select(
            "query_id", "vec_id", "mmr_rank", "relevance", "max_sim",
            "mmr_score", "n_vectors", "codes_hash",
        )
        .orderBy("query_id", "mmr_rank")
    )


@register("ann_lsh_topk", _ANN_LSH_SQL)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 64)
    # corpus-derived n_bits (oracle mirrors via _nb_cte, target 2)
    out = SIM.lsh_topk(emb, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


# --------------------------------------------------------------------------
# keyword extraction: rarity-weighted top-k terms per document
# --------------------------------------------------------------------------

_KEYWORDS_SQL = f"""
WITH base AS (
    SELECT doc_id, unnest({_TOK.format(c='text')}) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM base GROUP BY doc_id, term
),
scored AS (
    SELECT doc_id, term, tf,
           CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
           CAST(tf * (SELECT count(*) FROM documents) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS score
    FROM tf
)
SELECT doc_id, term, tf, df, score,
       CAST(rank AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
    ) AS rank
    FROM scored
)
WHERE rank <= 3
"""


@register("doc_keywords", _KEYWORDS_SQL)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per doc by rarity-weighted term frequency
    (``tf * N / df`` — the TF-IDF shape with a RATIONAL idf so both
    engines produce bit-identical doubles; a log idf differs in the last
    ulp between libm implementations and would break the hash gate).

    Scale shape: one explode + one groupBy(doc, term); document frequency
    via a SKEW-SAFE groupBy(term) aggregate joined back (the r8 survivor-
    selection discipline — a stopword like "the" appears in every doc, so
    the previous count-over-Window.partitionBy(term) serialized the
    hottest term into one unsplittable task, while the partial aggregate
    collapses it map-side and the vocabulary-sized df table broadcasts or
    SMJ-splits); the corpus size N broadcast from a 1-row aggregate, and
    a per-doc top-k window — no all-pairs term joins anywhere.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    terms = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_tbl, "term")
        .join(F.broadcast(n_docs))
        .withColumn("score", (F.col("tf") * F.col("__n")).cast("double") / F.col("df").cast("double"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# --------------------------------------------------------------------------
# corpus curation: the end-to-end training-data prep composite
# --------------------------------------------------------------------------

_CURATION_SQL = f"""
WITH {_DOCS2_SQL.strip()},
base AS (
    SELECT doc_id, text, {_TOK.format(c='text')} AS tok FROM docs2
),
st AS (
    SELECT doc_id, text, tok,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({_count_in_sql('tok', TX.STOPWORDS)} AS BIGINT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
           {_LANG_SCORES},
           md5(array_to_string(tok, ' ')) AS fingerprint
    FROM base
),
r AS (
    SELECT *,
           CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio
    FROM st
),
q AS (
    SELECT *,
           least(greatest(
               0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
               + 0.3 * least(stopword_ratio * 5.0, 1.0)
               + 0.2 * (1.0 - least(punct_ratio * 10.0, 1.0)), 0.0), 1.0) AS quality,
           {_LANG_CASE} AS lang_guess,
           min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
           len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}')) AS bpe_tokens
    FROM r
)
SELECT lang_guess AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
FROM q
WHERE quality >= 0.5 AND lang_guess <> 'und' AND doc_id = canonical_id
GROUP BY lang_guess
ORDER BY lang_guess
"""


@register("corpus_curation", _CURATION_SQL)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data-prep composite, end-to-end in one declarative plan:
    quality-score gate (>= 0.5) -> language ID (drop 'und') -> exact
    dedup (keep the canonical min-id survivor) -> per-language token
    budget. Runs on the dup-augmented ``docs2`` corpus so the dedup stage
    provably removes rows.

    Scale shape: the scalar features are one codegen pass over the scan;
    dedup is ONE shuffle on fingerprint (window-min); the final rollup is
    a tiny groupBy(lang). Nothing materializes between stages — Catalyst
    fuses the whole curation into scan -> window -> filter -> agg.
    """
    from pyspark.sql import Window

    t = F.col("text")
    docs = _docs2(spark, sf_dir)
    n_tok = TX.token_count(t)
    feats = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        TX.bpe_token_count(t).alias("bpe_tokens"),
        TX.quality_score(t).alias("quality"),
        TX.lang_id(t).alias("lang"),
        TX.fingerprint(t).alias("fingerprint"),
    )
    canon = feats.withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    )
    kept = canon.filter(
        (F.col("quality") >= 0.5)
        & (F.col("lang") != "und")
        & (F.col("doc_id") == F.col("canonical_id"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# context-window packing: assign documents to fixed token-budget bins
# --------------------------------------------------------------------------

_PACK_SHARDS = 8
_PACK_CAPACITY = 512

_PACKING_SQL = f"""
WITH base AS (
    SELECT doc_id,
           CAST(len({_TOK.format(c='text')}) AS BIGINT) AS n_tokens,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_PACK_SHARDS} AS INT) AS shard
    FROM documents
),
cum AS (
    SELECT doc_id, n_tokens, shard,
           sum(least(n_tokens, {_PACK_CAPACITY})) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING
           ) AS cum_tokens
    FROM base
)
SELECT doc_id, n_tokens, shard,
       CAST((cum_tokens - 1) // {_PACK_CAPACITY} AS BIGINT) AS bin_in_shard,
       CAST(shard * 1000000 + (cum_tokens - 1) // {_PACK_CAPACITY} AS BIGINT) AS bin_id
FROM cum
"""


@register("doc_packing", _PACKING_SQL)
def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign each document to a fixed
    token-capacity bin (the pretraining sequence-packing step).

    Global greedy packing is inherently sequential, so the SCALABLE form
    shards first (md5 of doc_id mod S — deterministic, engine-portable)
    and packs within each shard by doc_id order via one windowed running
    sum: bin = floor((cumsum-1) / capacity). Oversized docs are clamped to
    one full bin (``least(n_tokens, capacity)``) rather than overflowing
    their neighbors. S shards = S independent window partitions — the
    100 TB story is one shuffle on shard and embarrassingly parallel
    packing inside; capacity utilization loss vs global greedy is the
    usual first-fit trade, bounded and auditable from the output.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % _PACK_SHARDS
    ).cast("int")
    base = docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        shard.alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = base.withColumn(
        "cum_tokens", F.sum(F.least(F.col("n_tokens"), F.lit(_PACK_CAPACITY))).over(w)
    )
    # integer division in BOTH engines (ADVICE r10): `div` stays in long
    # arithmetic like DuckDB's `//`, where floor(double-div) converts the
    # cumulative sum long->double and can round across a bin boundary past
    # 2^53 (both operators truncate toward zero, agreeing at every edge)
    bin_in_shard = F.expr(f"CAST((cum_tokens - 1) div {_PACK_CAPACITY} AS BIGINT)")
    return cum.select(
        "doc_id", "n_tokens", "shard",
        bin_in_shard.alias("bin_in_shard"),
        (F.col("shard").cast("long") * 1_000_000 + bin_in_shard).alias("bin_id"),
    )


# --------------------------------------------------------------------------
# shard_assignment / shard_manifest: deterministic training-shard export —
# hash-ordered global order, token-budget shard boundaries from a
# distributed (bucketed) prefix sum, and the per-shard manifest whose
# content hash proves replayability. The oracle uses DuckDB's simple
# global window; the Spark plan's two-level prefix sum must equal it
# exactly (integer addition is associative), which is exactly what the
# value-hash gate checks.
# --------------------------------------------------------------------------

_SHARD_BUDGET = 2048

_SHARD_CTES = f"""base AS (
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS okey,
           CAST(len({_TOK.format(c='text')}) AS BIGINT) AS n_tokens,
           md5(text) AS doc_fp
    FROM documents
),
cum AS (
    SELECT doc_id, okey, n_tokens, doc_fp,
           CAST(sum(n_tokens) OVER (ORDER BY okey, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM base
),
asg AS (
    SELECT doc_id, okey, n_tokens, doc_fp, cum_tokens,
           CAST((cum_tokens - 1) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM cum
)"""

_SHARD_ASSIGN_SQL = f"""
WITH {_SHARD_CTES}
SELECT doc_id, okey, n_tokens, cum_tokens, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id
            ORDER BY okey, doc_id) AS BIGINT) AS pos_in_shard
FROM asg
ORDER BY okey, doc_id
"""

_SHARD_MANIFEST_SQL = f"""
WITH {_SHARD_CTES}
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(okey) AS first_key,
       max(okey) AS last_key,
       md5(string_agg(doc_fp, '' ORDER BY okey, doc_id)) AS content_hash
FROM asg
GROUP BY shard_id
ORDER BY shard_id
"""


@register("shard_assignment", _SHARD_ASSIGN_SQL)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment under the md5(doc_id) hash order:
    shard_id = (global cumulative tokens - 1) // budget, computed as a
    two-level bucketed prefix sum (256 balanced window partitions + one
    256-row offset relation broadcast back) — never a global window.
    Contract in ``operators/sharding.shard_assignment``."""
    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = read_table(spark, sf_dir, "documents")
    return (
        SH.shard_assignment(docs, budget=_SHARD_BUDGET)
        .drop("doc_fp")
        .orderBy("okey", "doc_id")
    )


@register("shard_manifest", _SHARD_MANIFEST_SQL)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of the deterministic export: doc count, token
    sum, boundary keys, and the order-sensitive md5 content hash over the
    member document fingerprints — any change in membership, order, or
    document bytes changes the hash. Contract in
    ``operators/sharding.shard_manifest``."""
    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = read_table(spark, sf_dir, "documents")
    return SH.shard_manifest(docs, budget=_SHARD_BUDGET)


_SEQ_LEN = 256  # training sequence length for pack_sequences

_PACK_SEQ_SQL = f"""
WITH {_SHARD_CTES}
SELECT t.k AS seq_id, doc_id, okey,
       CAST(greatest(cum_tokens - n_tokens, t.k * {_SEQ_LEN})
            - (cum_tokens - n_tokens) AS BIGINT) AS doc_offset,
       CAST(greatest(cum_tokens - n_tokens, t.k * {_SEQ_LEN})
            - t.k * {_SEQ_LEN} AS BIGINT) AS seq_offset,
       CAST(least(cum_tokens, (t.k + 1) * {_SEQ_LEN})
            - greatest(cum_tokens - n_tokens, t.k * {_SEQ_LEN}) AS BIGINT) AS length,
       greatest(cum_tokens - n_tokens, t.k * {_SEQ_LEN})
           = cum_tokens - n_tokens AS is_doc_start,
       least(cum_tokens, (t.k + 1) * {_SEQ_LEN}) = cum_tokens AS is_doc_end
FROM asg,
     unnest(generate_series((cum_tokens - n_tokens) // {_SEQ_LEN},
                            (cum_tokens - 1) // {_SEQ_LEN})) AS t(k)
WHERE n_tokens > 0
ORDER BY seq_id, seq_offset
"""


@register("pack_sequences", _PACK_SEQ_SQL)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level contiguous sequence packing (the GPT-style pretraining
    shape): the corpus token stream in deterministic hash order cut into
    fixed 256-token sequences, documents straddling boundaries — one row
    per (sequence, document-segment) with offsets, length, and the
    BOS/EOS / attention-mask-reset flags a training loader consumes.
    Pure integer arithmetic on the distributed shard prefix sum; the
    oracle replays it with the naive global window + generate_series.
    Contract in ``operators/sharding.pack_training_sequences``."""
    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = read_table(spark, sf_dir, "documents")
    return SH.pack_training_sequences(docs, seq_len=_SEQ_LEN).orderBy(
        "seq_id", "seq_offset"
    )


_EPOCH_SHUFFLE_SQL = """
WITH e AS (SELECT unnest([0, 1]) AS epoch),
keyed AS (
    SELECT e.epoch, doc_id,
           md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS ekey
    FROM documents, e
)
SELECT doc_id, CAST(epoch AS INTEGER) AS epoch, ekey,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY ekey, doc_id)
            AS BIGINT) AS pos
FROM keyed
ORDER BY epoch, pos
"""


@register("epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order for epochs 0 and 1: a seeded
    global permutation from md5(epoch:doc_id), re-derivable by any worker
    with zero coordination — multi-epoch training must not replay one
    fixed order, and a distributed loader cannot materialize a shared
    shuffled index. ``pos`` comes from the 256-bucket two-level prefix
    sum (no global window); the oracle replays it with the naive global
    row_number. Contract in ``operators/sharding.epoch_order``."""
    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    out = SH.epoch_order(docs, 0).unionByName(SH.epoch_order(docs, 1))
    return out.orderBy("epoch", "pos")


_SHARD_READ_ID = 1  # exists at every fixture SF (>= 14 shards at budget 2048)

_SHARD_PRUNED_READ_SQL = f"""
WITH {_SHARD_CTES}
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(okey) AS first_key,
       max(okey) AS last_key,
       md5(string_agg(doc_fp, '' ORDER BY okey, doc_id)) AS content_hash,
       TRUE AS manifest_match
FROM asg
WHERE shard_id = {_SHARD_READ_ID}
GROUP BY shard_id
"""


@register("shard_pruned_read", _SHARD_PRUNED_READ_SQL)
def q_shard_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard-export story end to end (r10 verdict #5): export the
    corpus as shard_id-partitioned parquet + manifest (once per process,
    the staged-source discipline), then read EXACTLY ONE shard back
    through the partition-pruned scan and verify the re-hashed content
    against the stored manifest row. The oracle recomputes the same
    manifest row from the raw documents table and asserts the match —
    so the driver hash certifies write -> partition-pruned read ->
    byte-identical content, i.e. the training-loader read path, not just
    the writer. Plan shape: PartitionFilters on shard_id (directory-level
    pruning; one shard's files scanned regardless of shard count).
    Contract in ``operators/sharding.read_shard_verified``."""
    import os

    from big_data_elt_pipeline_spark.operators import sharding as SH
    from big_data_elt_pipeline_spark.streaming import staging_dir

    root = staging_dir("shard_export", sf_dir)
    if not os.path.exists(f"{root}/shards/_SUCCESS"):
        docs = read_table(spark, sf_dir, "documents")
        SH.export_shards(docs, root, budget=_SHARD_BUDGET)
    return SH.read_shard_verified(spark, root, _SHARD_READ_ID)


# --------------------------------------------------------------------------
# Round 6: BM25 ranked retrieval (operators/retrieval.py)
# --------------------------------------------------------------------------

_BM25_QUERIES = [
    ("q_join", "shuffle join broadcast table"),
    ("q_scan", "parquet scan filter pushdown"),
    ("q_window", "window partition order row"),
]

def _bm25_ctes(
    q_cte: str, depth: int, out: str = "lexr", docs_src: str = "documents",
    materialize: tuple[str, ...] = (),
) -> str:
    """BM25 oracle as a reusable WITH-body fragment: ``q_cte`` supplies the
    (query_id, query_text) relation, ``out`` is the name of the final
    ranked CTE (query_id, doc_id, score, rank <= depth). ``docs_src``
    swaps the corpus relation (e.g. the live corpus after a delete — the
    ``bm25_index_delete`` oracle). Numerics mirror
    ``operators/retrieval.bm25_topk`` exactly (round-6 quantized-decimal
    determinism contract).

    ``materialize`` names CTEs of this fragment to emit ``AS
    MATERIALIZED`` (value-identical; DuckDB re-evaluates a plain CTE
    once PER REFERENCE, so a consumer whose added CTEs re-reference the
    corpus-sized ``tokens``/``tf``/``dl`` several times — the RM3
    oracle — pins them materialized; the single-reference consumers
    keep the optimizer's default)."""
    m = {name: " MATERIALIZED" if name in materialize else ""
         for name in ("tokens", "tf", "dl", "dfreq")}
    return f"""{q_cte},
tokens AS{m['tokens']} (
    SELECT doc_id, t.term
    FROM {docs_src},
         unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
    WHERE t.term <> ''
),
tf AS{m['tf']} (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
dl AS{m['dl']} (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
corpus AS (
    SELECT (SELECT count(*) FROM {docs_src}) AS n_docs,
           (SELECT avg(dl) FROM dl) AS avgdl
),
dfreq AS{m['dfreq']} (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms AS (
    SELECT DISTINCT query_id, t.term
    FROM q, unnest(string_split_regex(lower(query_text), '[^a-z]+')) AS t(term)
    WHERE t.term <> ''
),
idf_tbl AS (
    SELECT term,
           round(ln(CAST(1.0 AS DOUBLE)
                    + (n_docs - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE))), 6) AS idf,
           avgdl
    FROM dfreq, corpus
    WHERE term IN (SELECT term FROM qterms)
),
scored AS (
    SELECT qterms.query_id, tf.doc_id,
           CAST(sum(CAST(round(
               idf * (tf * CAST(2.2 AS DOUBLE))
                   / (tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl.dl / avgdl)), 6)
               AS DECIMAL(25,6))) AS DOUBLE) AS score
    FROM tf
    JOIN qterms USING (term)
    JOIN idf_tbl USING (term)
    JOIN dl USING (doc_id)
    GROUP BY qterms.query_id, tf.doc_id
),
{out} AS (
    SELECT query_id, doc_id, score, rank FROM (
        SELECT query_id, doc_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {depth}
)"""


_BM25_SQL = f"""
WITH {_bm25_ctes('''q(query_id, query_text) AS (VALUES
    ('q_join', 'shuffle join broadcast table'),
    ('q_scan', 'parquet scan filter pushdown'),
    ('q_window', 'window partition order row')
)''', 10)}
SELECT query_id, rank, doc_id, score FROM lexr
ORDER BY query_id, rank
"""


@register("bm25_topk", _BM25_SQL)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per probe query over ``documents`` (k1=1.2, b=0.75).
    Lexical ranked retrieval for curation pulls / contamination probes;
    plan shape and the quantized-decimal determinism contract documented
    in ``operators/retrieval.py``."""
    from big_data_elt_pipeline_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, query_text string")
    return bm25_topk(docs, queries, k=10)


# --------------------------------------------------------------------------
# Persisted BM25 text index (r12 verdict #1: the ann_index build-once /
# probe-many discipline applied to text). The build runs once per
# (process, sf_dir) through the lakehouse writer; the two queries then
# certify the SERVING read path: the audit re-hashes the stored postings
# against the oracle's from-scratch tokenize of the raw corpus (index
# content), and the probe answers a DISJOINT query set from the stored
# tables alone (index answers) — the oracle recomputes the same ranking
# ad hoc, so a hash match proves stored-index == per-call == cross-engine.
# --------------------------------------------------------------------------

from big_data_elt_pipeline_spark.operators.text_index import (  # noqa: E402
    AUDIT_CHUNK_TARGET as _TIX_CHUNK,
)

_BM25_PROBE_QUERIES = [
    ("p_line", "line customer query value"),
    ("p_merge", "merge batch stream sort"),
    ("p_vector", "vector group hash key"),
]


def _build_text(spark: SparkSession, sf_dir: str, idx: str) -> None:
    """The gate's BM25 index over the documents corpus."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # n_files=8: at fixture scale the clustered write would otherwise
    # collapse to one file and per-term file skipping would be
    # vacuously exercised
    TIX.build_text_index(docs, idx, n_files=8)


_BM25_INDEX_PROBE_SQL = f"""
WITH {_bm25_ctes('''q(query_id, query_text) AS (VALUES
    ('p_line', 'line customer query value'),
    ('p_merge', 'merge batch stream sort'),
    ('p_vector', 'vector group hash key')
)''', 10)}
SELECT query_id, rank, doc_id, score FROM lexr
ORDER BY query_id, rank
"""

_BM25_INDEX_AUDIT_SQL = f"""
WITH tokens AS (
    SELECT doc_id, t.term
    FROM documents,
         unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
    WHERE t.term <> ''
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tokens GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
postings AS (
    SELECT tf.doc_id, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (doc_id)
),
cc AS (
    -- audit chunk count: exact integer ceil(n_docs / chunk_target), the
    -- identical arithmetic text_index_audit computes from the stats row
    SELECT CAST(greatest(1,
        ((SELECT count(*) FROM documents) + {_TIX_CHUNK} - 1)
            // {_TIX_CHUNK}
    ) AS BIGINT) AS c
),
chunkhash AS (
    SELECT doc_id % cc.c AS chunk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_c,
           CAST(sum(tf) AS BIGINT) AS dl_c,
           md5(string_agg(
               CAST(doc_id AS VARCHAR) || ':' || term || ':'
                   || CAST(tf AS VARCHAR) || ':' || CAST(dl AS VARCHAR),
               ',' ORDER BY doc_id, term)) AS h
    FROM postings, cc
    GROUP BY doc_id % cc.c
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       CAST(sum(n_docs_c) AS BIGINT) AS n_docs_tokenized,
       CAST(sum(n_rows) AS BIGINT) AS n_postings,
       (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM postings)
           AS vocab_size,
       CAST(sum(dl_c) AS BIGINT) AS total_dl,
       CAST(0 AS BIGINT) AS n_tombstones,
       CAST(0 AS BIGINT) AS n_df_mismatch,
       TRUE AS stats_consistent,
       md5(string_agg(CAST(chunk AS VARCHAR) || ':' || h,
                      ',' ORDER BY chunk)) AS postings_hash
FROM chunkhash
"""


@register("bm25_index_audit", _BM25_INDEX_AUDIT_SQL)
def q_bm25_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-text-index content verification: the chunked hash of the
    PERSISTED (doc_id, term, tf, dl) postings plus the df-increment
    reconciliation and the stored stats row, against an oracle that
    re-derives the whole inverted index from the raw corpus — any
    corruption, partial build, double-counted df increment, or stats
    drift flips a column. Contract in
    ``operators/text_index.text_index_audit``."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    idx = _staged_index(spark, sf_dir, "text_index", _build_text)
    return TIX.text_index_audit(spark, idx)


# RM3 pseudo-relevance feedback served from the stored index (r14): the
# base probe's top fb_k documents estimate a feedback term distribution
# P(t|R) = sum_d p_d * tf/dl (p_d = BM25-score prior), the fb_terms
# strongest terms interpolate with the uniform query model at lambda,
# and the weighted kernel re-probes the expanded vocabulary. The oracle
# replays all three stages from the raw corpus with the identical
# 6-dp-snap/decimal-sum numerics — a drifted feedback weight, a lost
# expansion term, or any snapshot inconsistency between the stages
# flips the hash.
_RM3_QUERIES = [
    ("r_hash", "hash join vector"),
    ("r_sort", "sort merge stream"),
    ("r_scan", "scan filter push"),
]
_RM3_FB_K = 5
_RM3_FB_TERMS = 10
_RM3_K = 10

_BM25_INDEX_RM3_SQL = f"""
WITH {_bm25_ctes(
    "q(query_id, query_text) AS (VALUES "
    + ", ".join(f"('{qid}', '{qt}')" for qid, qt in _RM3_QUERIES) + ")",
    _RM3_FB_K, "base", materialize=("tokens", "tf", "dl"))},
fbm AS (
    -- base scores are 6-dp decimals: times 10^6 they are EXACT bigints
    -- (micro-units); the whole feedback pipeline below is integer
    -- arithmetic — no engine-dependent double rounding anywhere
    SELECT query_id, doc_id,
           CAST(CAST(score AS DECIMAL(25,6)) * 1000000 AS BIGINT) AS s_micro
    FROM base
),
fbw AS (
    SELECT fbm.query_id, tf.term,
           CAST(sum((fbm.s_micro * tf.tf) // dl.dl) AS BIGINT) AS m_fb
    FROM fbm
    JOIN tf ON tf.doc_id = fbm.doc_id
    JOIN dl ON dl.doc_id = fbm.doc_id
    GROUP BY fbm.query_id, tf.term
),
fbtop AS (
    SELECT query_id, term, m_fb FROM (
        SELECT query_id, term, m_fb,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY m_fb DESC, term ASC
               ) AS trank
        FROM fbw
    ) WHERE trank <= {_RM3_FB_TERMS} AND m_fb > 0
),
fbnorm AS (
    SELECT query_id, CAST(sum(m_fb) AS BIGINT) AS ms
    FROM fbtop GROUP BY query_id
),
fbq AS (
    SELECT fbtop.query_id, fbtop.term,
           (CAST(500000 AS BIGINT) * m_fb) // ms AS w_f_u
    FROM fbtop JOIN fbnorm USING (query_id)
),
nq AS (
    SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
    FROM qterms GROUP BY query_id
),
origq AS (
    SELECT qterms.query_id, qterms.term,
           CAST(500000 AS BIGINT) // nq.n_terms AS w_o_u
    FROM qterms JOIN nq USING (query_id)
),
qw AS MATERIALIZED (
    SELECT COALESCE(o.query_id, f.query_id) AS query_id,
           COALESCE(o.term, f.term) AS term,
           CAST(COALESCE(o.w_o_u, 0) + COALESCE(f.w_f_u, 0) AS DOUBLE)
               / CAST(1000000 AS DOUBLE) AS qw
    FROM origq o
    FULL OUTER JOIN fbq f ON o.query_id = f.query_id AND o.term = f.term
),
idf2 AS (
    SELECT term,
           round(ln(CAST(1.0 AS DOUBLE)
                    + (n_docs - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE))), 6) AS idf,
           avgdl
    FROM dfreq, corpus
    WHERE term IN (SELECT term FROM qw)
),
scored2 AS (
    -- EXACT decimal product qw x contribution (12 dp, no rounding
    -- decision — see bm25_rank_weighted's half-way-case note), decimal
    -- sum, one double cast at the end
    SELECT qw.query_id, tf.doc_id,
           CAST(sum(CAST(qw.qw AS DECIMAL(8,6)) * CAST(round(
               idf * (tf * CAST(2.2 AS DOUBLE))
                   / (tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl.dl / avgdl)), 6)
               AS DECIMAL(19,6))) AS DOUBLE) AS score
    FROM tf
    JOIN qw USING (term)
    JOIN idf2 USING (term)
    JOIN dl USING (doc_id)
    GROUP BY qw.query_id, tf.doc_id
)
SELECT query_id, rank, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
           ) AS INTEGER) AS rank
    FROM scored2
) WHERE rank <= {_RM3_K}
ORDER BY query_id, rank
"""


@register("bm25_index_rm3", _BM25_INDEX_RM3_SQL)
def q_bm25_index_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 query expansion served from the stored text index: base probe
    (depth fb_k=5) -> feedback term model from the stored postings ->
    weighted re-probe of the expanded vocabulary, one pinned snapshot
    end to end. Bit-identical to the ad-hoc ``retrieval.bm25_rm3_topk``
    on the same corpus (shared kernels); contract and read-path costs in
    ``operators/text_index.bm25_index_rm3``."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    idx = _staged_index(spark, sf_dir, "text_index", _build_text)
    queries = spark.createDataFrame(
        _RM3_QUERIES, "query_id string, query_text string"
    )
    return TIX.bm25_index_rm3(
        spark, idx, queries,
        k=_RM3_K, fb_k=_RM3_FB_K, fb_terms=_RM3_FB_TERMS, lam=0.5,
    )


# Text-index deletion (r13, the ann_index_delete discipline applied to
# text — but with GLOBAL consequences: removing documents changes N,
# avgdl, and every contained term's df, so the oracle is simply the
# ad-hoc BM25 over the LIVE corpus; a probe that forgot to decrement any
# statistic, or left a dead posting scoreable, flips the hash).
_TIX_DEL_PRED = "doc_id % 7 != 0"  # the live corpus after the delete

_BM25_INDEX_DELETE_SQL = f"""
WITH {_bm25_ctes('''q(query_id, query_text) AS (VALUES
    ('d_join', 'shuffle join broadcast table'),
    ('d_scan', 'parquet scan filter pushdown'),
    ('d_window', 'window partition order row')
)''', 10, docs_src=f"(SELECT * FROM documents WHERE {_TIX_DEL_PRED}) documents")}
SELECT query_id, rank, doc_id, score FROM lexr
ORDER BY query_id, rank
"""


def _delete_text_sevens(spark: SparkSession, sf_dir: str, idx: str) -> None:
    """The deterministic tombstone set: every doc_id % 7 == 0."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    TIX.delete_from_text_index(docs.filter(F.col("doc_id") % 7 == 0), idx)


@register("bm25_index_delete", _BM25_INDEX_DELETE_SQL)
def q_bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 from a stored index AFTER ``delete_from_text_index``
    (doc_id % 7 == 0 tombstoned): the probe must answer EXACTLY as the
    ad-hoc BM25 over the live corpus — N, avgdl, and every df
    decremented, dead postings anti-joined — which is precisely what the
    oracle computes. Contract in
    ``operators/text_index.delete_from_text_index``."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    idx = _staged_index(
        spark, sf_dir, "text_index_del", _build_text, _delete_text_sevens
    )
    queries = spark.createDataFrame(
        [
            ("d_join", "shuffle join broadcast table"),
            ("d_scan", "parquet scan filter pushdown"),
            ("d_window", "window partition order row"),
        ],
        "query_id string, query_text string",
    )
    return TIX.bm25_index_probe(spark, idx, queries, k=10)


@register("bm25_index_probe", _BM25_INDEX_PROBE_SQL)
def q_bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 from the STORED index — no corpus tokenize or stats
    recompute in this plan (the serving path the index exists for):
    postings and df scans open only files whose manifest term range can
    contain a query term; avgdl reconstructs from the stored exact
    integers. Disjoint query set from the gated ``bm25_topk`` so the two
    queries certify different executions of the shared
    ``retrieval.bm25_rank`` kernel. Contract in
    ``operators/text_index.bm25_index_probe``."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    idx = _staged_index(spark, sf_dir, "text_index", _build_text)
    queries = spark.createDataFrame(
        _BM25_PROBE_QUERIES, "query_id string, query_text string"
    )
    return TIX.bm25_index_probe(spark, idx, queries, k=10)


# Document-update composition (r13 verdict #6): update_text_documents =
# delete + append under ONE stats publish. The gate rewrites every
# doc_id % 11 == 0 document (a deterministic prefix prepended), then
# probes the mutated index; the oracle is the ad-hoc BM25 over the
# updated corpus — every global stat (N, avgdl, each touched term's df)
# and every posting generation must land exactly or the hash flips.
_TIX_UPD_DOCS_SQL = (
    "(SELECT doc_id, text FROM documents WHERE doc_id % 11 != 0"
    " UNION ALL"
    " SELECT doc_id, 'refreshed shuffle corpus ' || text AS text"
    " FROM documents WHERE doc_id % 11 = 0) documents"
)

_BM25_INDEX_UPDATE_SQL = f"""
WITH {_bm25_ctes('''q(query_id, query_text) AS (VALUES
    ('u_join', 'shuffle join broadcast table'),
    ('u_scan', 'parquet scan filter pushdown'),
    ('u_window', 'window partition order row')
)''', 10, docs_src=_TIX_UPD_DOCS_SQL)}
SELECT query_id, rank, doc_id, score FROM lexr
ORDER BY query_id, rank
"""


def _update_text_elevens(spark: SparkSession, sf_dir: str, idx: str) -> None:
    """The deterministic update batch: every doc_id % 11 == 0 rewritten."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    upd = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.concat(F.lit("refreshed shuffle corpus "), F.col("text")).alias(
            "text"
        ),
    )
    TIX.update_text_documents(upd, idx, n_files=8)


@register("bm25_index_update", _BM25_INDEX_UPDATE_SQL)
def q_bm25_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 from a stored index AFTER ``update_text_documents``
    (doc_id % 11 == 0 rewritten in place — generation-scoped tombstone +
    re-append under one atomic stats publish): the probe must answer
    EXACTLY as the ad-hoc BM25 over the updated corpus, which is what
    the oracle computes. A stale generation leaking through the
    tombstone scope, a lost revision, or any stats drift flips the
    hash. Contract in ``operators/text_index.update_text_documents``."""
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    idx = _staged_index(
        spark, sf_dir, "text_index_upd", _build_text, _update_text_elevens
    )
    queries = spark.createDataFrame(
        [
            ("u_join", "shuffle join broadcast table"),
            ("u_scan", "parquet scan filter pushdown"),
            ("u_window", "window partition order row"),
        ],
        "query_id string, query_text string",
    )
    return TIX.bm25_index_probe(spark, idx, queries, k=10)


# --------------------------------------------------------------------------
# retrieval_eval: exact MAP / nDCG@10 of the BM25 ranking against the
# deterministic conjunctive relevance label (doc contains EVERY query
# term). The discount and IDCG tables are 12-dp literals shared between
# both engines (log2 is transcendental — the BM25 log-quantization idiom
# applied to a constant table).
# --------------------------------------------------------------------------

# 'dup' is the corpus's one rare marker word (df ~5%), so the two dup
# queries have small exact relevant sets (R ~12-20) that BM25's idf chases
# but does not perfectly recover; the common-terms query has R ~200 and
# exercises the min(R, k) normalizer.
_EVAL_QUERIES = [
    ("e_common", "vector hash join group"),
    ("e_dup_scan", "dup scan filter"),
    ("e_dup_win", "dup window merge"),
]
_EVAL_K = 10


def _retrieval_eval_sql() -> str:
    from big_data_elt_pipeline_spark.operators.retrieval import (
        idcg_prefix,
        ndcg_discounts,
    )

    q_values = "q(query_id, query_text) AS (VALUES " + ", ".join(
        f"('{qid}', '{qt}')" for qid, qt in _EVAL_QUERIES
    ) + ")"
    disc = ", ".join(
        f"({r + 1}, {d!r})" for r, d in enumerate(ndcg_discounts(_EVAL_K))
    )
    icg = ", ".join(
        f"({m + 1}, {v!r})" for m, v in enumerate(idcg_prefix(_EVAL_K))
    )
    return f"""
WITH {_bm25_ctes(q_values, _EVAL_K, "ranked")},
nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
       FROM qterms GROUP BY query_id),
dterms AS (SELECT DISTINCT doc_id, term FROM tokens),
rel AS (
    SELECT c.query_id, c.doc_id FROM (
        SELECT qterms.query_id, dterms.doc_id, count(*) AS nt
        FROM dterms JOIN qterms USING (term) GROUP BY 1, 2
    ) c JOIN nq USING (query_id) WHERE c.nt = nq.n_terms
),
nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         FROM rel GROUP BY query_id),
disc(rank, d) AS (VALUES {disc}),
icg(m, idcg) AS (VALUES {icg}),
rr AS (
    SELECT r.query_id, r.rank,
           CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isr
    FROM ranked r
    LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
),
cum AS (
    SELECT query_id, rank, isr,
           sum(isr) OVER (PARTITION BY query_id ORDER BY rank) AS hits
    FROM rr
),
agg AS (
    SELECT c.query_id,
           sum(CASE WHEN isr = 1
               THEN CAST(round(CAST(hits AS DOUBLE) / CAST(rank AS DOUBLE), 12)
                         AS DECIMAL(25,12))
               ELSE CAST(0 AS DECIMAL(25,12)) END) AS ap_num,
           sum(CASE WHEN isr = 1 THEN CAST(d.d AS DECIMAL(25,12))
               ELSE CAST(0 AS DECIMAL(25,12)) END) AS dcg
    FROM cum c JOIN disc d USING (rank)
    GROUP BY c.query_id
),
base AS (
    SELECT q.query_id, agg.ap_num, agg.dcg,
           coalesce(nrel.n_rel, 0) AS n_rel
    FROM q
    LEFT JOIN agg USING (query_id)
    LEFT JOIN nrel USING (query_id)
)
SELECT b.query_id, b.n_rel,
       CASE WHEN b.n_rel > 0
            THEN CAST(b.ap_num AS DOUBLE)
                 / CAST(least(b.n_rel, {_EVAL_K}) AS DOUBLE)
       END AS ap,
       CASE WHEN b.n_rel > 0 THEN CAST(b.dcg AS DOUBLE) / i.idcg END AS ndcg
FROM base b
LEFT JOIN icg i ON i.m = greatest(least(b.n_rel, {_EVAL_K}), 1)
ORDER BY query_id
"""


@register("retrieval_eval", _retrieval_eval_sql())
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP/nDCG@10 of BM25 against conjunctive ground truth — the eval
    half of the retrieval surface. AP terms and DCG discounts accumulate
    as 12-dp DECIMAL (partitioning-independent); the discount/IDCG tables
    are identical literals in both engines. Contract in
    ``operators/retrieval.ranking_eval``."""
    from big_data_elt_pipeline_spark.operators.retrieval import ranking_eval

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(
        _EVAL_QUERIES, "query_id string, query_text string"
    )
    return ranking_eval(docs, queries, k=_EVAL_K)


# --------------------------------------------------------------------------
# tokenizer_fertility: per-language subword fertility + chars/token — the
# multilingual tokenizer-efficiency audit (a language with exploding
# fertility eats a multiple of its fair training-token budget).
# --------------------------------------------------------------------------

_FERTILITY_SQL = f"""
WITH base AS (
    SELECT doc_id, text, {_TOK.format(c='text')} AS tok FROM documents
),
st AS (
    SELECT CAST(len(tok) AS BIGINT) AS ws,
           CAST(len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}')) AS BIGINT) AS bpe,
           CAST(length(text) AS BIGINT) AS chars,
           {_LANG_SCORES}
    FROM base
),
per AS (SELECT {_LANG_CASE} AS lang, ws, bpe, chars FROM st)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       CASE WHEN sum(ws) = 0 THEN NULL
            ELSE CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) END AS fertility,
       CASE WHEN sum(bpe) = 0 THEN NULL
            ELSE CAST(sum(chars) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE) END AS chars_per_token
FROM per
GROUP BY lang
ORDER BY lang
"""


@register("tokenizer_fertility", _FERTILITY_SQL)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (BPE-ish tokens per whitespace
    word) and chars/token: map-only per-row features into one
    language-domain-bounded aggregate; ratios are single exact-integer
    divisions (try_divide mirrors the SQL zero guard). Contract in
    ``operators/profiling.token_fertility_by_lang``."""
    from big_data_elt_pipeline_spark.operators.profiling import (
        token_fertility_by_lang,
    )

    docs = read_table(spark, sf_dir, "documents")
    return token_fertility_by_lang(docs)


# --------------------------------------------------------------------------
# vocab_coverage: token-occurrence share of the top-k most frequent words
# — the Zipf-curve summary that sizes vocabulary budgets and flags
# boilerplate-dominated corpora.
# --------------------------------------------------------------------------

_VOCAB_COVERAGE_SQL = f"""
WITH words AS (
    SELECT t.w AS word
    FROM documents, unnest({_TOK.format(c='text')}) AS t(w)
    WHERE t.w <> ''
),
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY word),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total_tokens FROM wc),
top AS (SELECT word, freq FROM wc ORDER BY freq DESC, word ASC LIMIT 1000),
ranked AS (
    SELECT row_number() OVER (ORDER BY freq DESC, word ASC) AS r,
           sum(freq) OVER (ORDER BY freq DESC, word ASC) AS cum
    FROM top
),
k(top_k) AS (VALUES (10), (100), (1000))
SELECT CAST(k.top_k AS BIGINT) AS top_k,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(max(cum) AS BIGINT) AS covered_tokens,
       max(tot.total_tokens) AS total_tokens,
       CAST(max(cum) AS DOUBLE) / CAST(max(tot.total_tokens) AS DOUBLE) AS share
FROM ranked, k, tot
WHERE ranked.r <= k.top_k
GROUP BY k.top_k
ORDER BY top_k
"""


@register("vocab_coverage", _VOCAB_COVERAGE_SQL)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of all token occurrences covered by the top-{10,100,1000}
    words under the (freq desc, word asc) total order. The top-k cut is
    TakeOrderedAndProject (distributed top-k — never a global sort of the
    vocabulary); only the 1000-row result takes a window. Contract in
    ``operators/profiling.vocab_coverage``."""
    from big_data_elt_pipeline_spark.operators.profiling import vocab_coverage

    docs = read_table(spark, sf_dir, "documents")
    return vocab_coverage(docs)


# --------------------------------------------------------------------------
# source_mixture: per-source corpus shares + Shannon entropy (bits) of the
# source distribution — the number every data-mixing recipe starts from.
# ln is snapped on the source-bounded table (BM25 idiom); log2 conversion
# divides by a shared ln(2) literal rather than trusting engine log2.
# --------------------------------------------------------------------------

# the shared ln(2) literal — import keeps the two engines' constant one
from big_data_elt_pipeline_spark.operators.profiling import LN2 as _LN2  # noqa: E402

_SOURCE_MIXTURE_SQL = f"""
WITH per AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOK.format(c='text')})) AS BIGINT) AS ws_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
               CAST(sum(ws_tokens) AS BIGINT) AS t_tokens FROM per),
sh AS (
    SELECT source, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(t_docs AS DOUBLE) AS doc_share,
           ws_tokens,
           CAST(ws_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE) AS token_share
    FROM per, tot
),
ent AS (
    SELECT -CAST(sum(CAST(round(doc_share * round(ln(doc_share), 6), 12)
                          AS DECIMAL(25,12))) AS DOUBLE) / {_LN2!r} AS entropy_bits
    FROM sh
)
SELECT source, n_docs, doc_share, ws_tokens, token_share, entropy_bits
FROM sh, ent
ORDER BY source
"""


@register("source_mixture", _SOURCE_MIXTURE_SQL)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-design diversity audit: per-source doc/token shares plus
    the Shannon entropy (bits) of the source distribution, carried on
    every row as the corpus-level scalar. One source-domain-bounded
    partial-agg groupBy; entropy terms snapped on the bounded table.
    Contract in ``operators/profiling.source_mixture``."""
    from big_data_elt_pipeline_spark.operators.profiling import source_mixture

    docs = read_table(spark, sf_dir, "documents")
    return source_mixture(docs).orderBy("source")


# --------------------------------------------------------------------------
# vocab_drift: L1 distance between the word distributions of the two
# doc_id-parity corpus halves — the train/val distribution-shift gate.
# --------------------------------------------------------------------------

_VOCAB_DRIFT_SQL = f"""
WITH words AS (
    SELECT (doc_id % 2 = 0) AS a, t.w AS word
    FROM documents, unnest({_TOK.format(c='text')}) AS t(w)
    WHERE t.w <> ''
),
wc AS (SELECT a, word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY a, word),
st AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS tot FROM wc GROUP BY a),
wa AS (SELECT word, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS pa
       FROM wc JOIN st USING (a) WHERE a),
wb AS (SELECT word, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS pb
       FROM wc JOIN st USING (a) WHERE NOT a),
j AS (
    SELECT (pa IS NOT NULL) AS in_a, (pb IS NOT NULL) AS in_b,
           CAST(round(abs(coalesce(pa, 0.0) - coalesce(pb, 0.0)), 12)
                AS DECIMAL(25,12)) AS d
    FROM wa FULL OUTER JOIN wb USING (word)
)
SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_words_a,
       CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_words_b,
       CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS shared_words,
       CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS vocab_jaccard,
       CAST(sum(d) AS DOUBLE) AS l1_distance
FROM j
"""


_LEN_BY_LANG_SQL = f"""
WITH base AS (
    SELECT lang, CAST(len({_TOK.format(c='text')}) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT lang, CAST(0.25 AS DOUBLE) AS p, quantile_cont(n_tokens, 0.25) AS value
FROM base GROUP BY lang
UNION ALL
SELECT lang, CAST(0.5 AS DOUBLE), quantile_cont(n_tokens, 0.5) FROM base GROUP BY lang
UNION ALL
SELECT lang, CAST(0.75 AS DOUBLE), quantile_cont(n_tokens, 0.75) FROM base GROUP BY lang
ORDER BY lang, p
"""


@register("doc_length_quantiles_by_lang", _LEN_BY_LANG_SQL)
def q_doc_length_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quartiles from ONE grouped value
    histogram — the grouped generalization of the bounded-state
    percentile kernel (state bounded by |langs| x |length domain|, never
    a per-group percentile buffer; exact interpolated values matching
    quantile_cont). Contract in
    ``operators/quality.grouped_quantized_percentiles``."""
    from big_data_elt_pipeline_spark.operators.quality import (
        grouped_quantized_percentiles,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "lang", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return grouped_quantized_percentiles(
        docs, "lang", "n_tokens", [0.25, 0.5, 0.75]
    ).orderBy("lang", "p")


@register("vocab_drift", _VOCAB_DRIFT_SQL)
def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift between the doc_id-parity corpus halves: union
    vocabulary sizes, vocabulary Jaccard, and the L1 distance between the
    two word distributions (0 identical, 2 disjoint) — the audit run
    before trusting a held-out split. Two wordcount partial aggregations
    + one vocabulary-keyed full-outer join; |diff| terms are 12-dp
    DECIMAL sums. Contract in ``operators/profiling.vocab_drift``."""
    from big_data_elt_pipeline_spark.operators.profiling import vocab_drift

    docs = read_table(spark, sf_dir, "documents")
    return vocab_drift(docs)


_BLOCK_SQL = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS lst
    FROM documents
),
blocks AS (
    SELECT doc_id, k.blk AS block_idx,
           md5(array_to_string(lst[blk*32+1 : least((blk+1)*32, len(lst))], ' ')) AS h
    FROM toks,
         LATERAL (SELECT unnest(range(0, CAST(ceil(len(lst)/32.0) AS BIGINT))) AS blk) k
),
ranked AS (
    SELECT doc_id, block_idx, h,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, block_idx) AS rn
    FROM blocks
)
SELECT doc_id,
       count(*) AS n_blocks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS retained_ratio
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


@register("dedup_blocks", _BLOCK_SQL)
def q_dedup_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup audit (C4/CCNet line dedup; paragraphs
    = tumbling 32-token blocks on this newline-free corpus): per-doc
    retained ratio after removing every corpus-wide repeated block, min
    (doc_id, block_idx) survivor. Map-only block formation — plan notes in
    ``operators/dedup.block_dedup``."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return DD.block_dedup(docs)


# --------------------------------------------------------------------------
# Round 6: semantic dedup composite (SemDeDup-style) — embedding-cosine
# near-dup pairs resolved to connected components, one keep/drop row per
# clustered vector. The lexical dedup family decides on surface text;
# this is the embedding-space twin that catches paraphrases and
# translations lexical fingerprints miss.
# --------------------------------------------------------------------------

_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE {_EMB2_SQL.strip()},
{_nb_cte("emb2", 1)},
{_mu_ctes_dyn("emb2")},
b AS (SELECT vec_id, embedding,
             {_sign_bucket_sql_dyn("embedding", "m.mus")} AS bucket
      FROM emb2, muarr m, nb),
pairs AS (
    SELECT l.vec_id AS id1, r.vec_id AS id2
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    WHERE {_cos("l.embedding", "r.embedding")} >= 0.99
),
edges AS (
    SELECT id1 AS u, id2 AS v FROM pairs
    UNION
    SELECT id2 AS u, id1 AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM labels
"""


@register("semantic_dedup", _SEMANTIC_DEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup end-to-end: sign-LSH bucketed cosine pairs
    (>= 0.99 over the perturbed twin corpus, same fixture as
    ``embedding_neardup``) -> connected components -> (doc_id, cluster_id,
    cluster_size, is_canonical). Survivors = canonical rows; everything
    else is a semantic duplicate of a kept vector. Reuses
    ``similarity.embedding_neardup`` for candidates and
    ``dedup.neardup_clusters`` for resolution — one composite plan, no new
    shuffle classes."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: (x * F.lit(1.001)).cast("float")).alias("embedding"),
    )
    emb2 = emb.unionByName(perturbed)
    pairs = SIM.embedding_neardup(emb2, threshold=0.99).select("id1", "id2")
    return DD.neardup_clusters(pairs)


_SUBSTR_SQL = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS lst
    FROM documents
),
win AS (
    SELECT doc_id, t.o AS off,
           ('0x' || substr(md5(array_to_string(lst[o+1 : o+16], ' ')), 1, 15))::BIGINT AS h
    FROM toks,
         LATERAL (SELECT unnest(range(0, greatest(len(lst) - 16 + 1, 0))) AS o) t
),
rep AS (
    SELECT doc_id, off FROM (
        SELECT doc_id, off,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, off) AS rn
        FROM win
    ) WHERE rn > 1
),
isl AS (
    SELECT doc_id, off,
           off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS grp
    FROM rep
)
SELECT doc_id,
       min(off) AS span_start,
       max(off) + 16 AS span_end,
       max(off) + 16 - min(off) AS span_tokens
FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start
"""


@register("dedup_substrings", _SUBSTR_SQL)
def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at ARBITRARY offsets (Lee et al. 2022 class;
    r6 verdict #3): every maximal token span repeated anywhere in the
    corpus, via stride-1 sliding 16-token windows — first (doc, offset)
    occurrence survives, repeated-window runs merge to maximal spans.
    Catches what ``dedup_blocks``'s tumbling grid misses (repeats not
    aligned to block boundaries). Guarantee + plan notes in
    ``operators/dedup.substring_dedup``."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return DD.substring_dedup(docs, window_tokens=16, stride=1)


_INCR_SUBSTR_CTES = """
WITH index_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
),
batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
    FROM index_docs WHERE doc_id % 97 = 1
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM index_docs WHERE doc_id % 49 = 0
),
toks_i AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS lst
    FROM index_docs
),
toks_b AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS lst
    FROM batch
),
win_i AS (
    SELECT doc_id, t.o AS off,
           ('0x' || substr(md5(array_to_string(lst[o+1 : o+16], ' ')), 1, 15))::BIGINT AS h
    FROM toks_i,
         LATERAL (SELECT unnest(range(0, greatest(len(lst) - 16 + 1, 0))) AS o) t
),
win_b AS (
    SELECT doc_id, t.o AS off,
           ('0x' || substr(md5(array_to_string(lst[o+1 : o+16], ' ')), 1, 15))::BIGINT AS h
    FROM toks_b,
         LATERAL (SELECT unnest(range(0, greatest(len(lst) - 16 + 1, 0))) AS o) t
),
rep AS (
    SELECT DISTINCT doc_id, off FROM (
        SELECT b.doc_id, b.off,
               EXISTS (SELECT 1 FROM win_i i WHERE i.h = b.h) AS in_corpus,
               row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id, b.off) AS rn
        FROM win_b b
    ) WHERE in_corpus OR rn > 1
),
isl AS (
    SELECT doc_id, off,
           off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS grp
    FROM rep
)"""

_INCR_SUBSTR_SQL = _INCR_SUBSTR_CTES + """
SELECT doc_id,
       min(off) AS span_start,
       max(off) + 16 AS span_end,
       max(off) + 16 - min(off) AS span_tokens
FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start
"""

_INCR_SPAN_REMOVAL_SQL = _INCR_SUBSTR_CTES + """,
spans AS (
    SELECT doc_id, min(off) AS s, max(off) + 16 AS e
    FROM isl GROUP BY doc_id, grp
),
sarr AS (
    SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
    FROM spans GROUP BY doc_id
),
cut AS (
    SELECT t.doc_id, t.lst,
           list_filter(
               list_transform(range(0, len(t.lst)),
                   i -> CASE WHEN len(list_filter(a.spans,
                                 sp -> i >= sp.s AND i < sp.e)) > 0
                        THEN NULL ELSE t.lst[i+1] END),
               x -> x IS NOT NULL) AS kept
    FROM toks_b t JOIN sarr a ON t.doc_id = a.doc_id
    UNION ALL
    SELECT t.doc_id, t.lst, t.lst AS kept
    FROM toks_b t ANTI JOIN sarr a ON t.doc_id = a.doc_id
)
SELECT doc_id,
       CAST(len(lst) AS BIGINT) AS n_tokens,
       CAST(len(kept) AS BIGINT) AS kept_tokens,
       CAST(len(lst) - len(kept) AS BIGINT) AS removed_tokens,
       md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_fp,
       coalesce(array_to_string(kept, ' '), '') AS cleaned
FROM cut ORDER BY doc_id
"""


def _incr_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The incremental-dedup fixture split (shared by the spans and
    span-removal gates; mirrors the index_docs/batch CTEs of both
    oracles): corpus = doc_id % 5 != 0; batch = the % 5 == 0 slice plus
    planted dropped-first-token copies (misaligned repeats — what the
    tumbling block grid misses and the slider catches) and exact copies
    of index docs."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_docs = docs.filter(F.col("doc_id") % 5 != 0)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .unionByName(
            index_docs.filter(F.col("doc_id") % 97 == 1).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
            )
        )
        .unionByName(
            index_docs.filter(F.col("doc_id") % 49 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return index_docs, batch


@register("dedup_incremental_substrings", _INCR_SUBSTR_SQL)
def q_dedup_incremental_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest exact-substring spans against the corpus window index
    (the substring twin of ``dedup_incremental_minhash``): spans for
    BATCH docs only, the corpus never rescanned for its own repeats.
    Fixture split in ``_incr_split``; scale shape in
    ``operators/dedup.incremental_substring_dedup``."""
    index_docs, batch = _incr_split(spark, sf_dir)
    return DD.incremental_substring_dedup(index_docs, batch)


@register("dedup_incremental_span_removal", _INCR_SPAN_REMOVAL_SQL)
def q_dedup_incremental_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-ingest WRITE PATH (r7 verdict #5): the same batch as
    ``dedup_incremental_substrings``, but MATERIALIZED — every span of an
    incoming doc that repeats corpus (or earlier-batch) text is cut
    before the batch lands, emitting the per-batch-doc audit + cleaned
    text. Composition notes in
    ``operators/dedup.remove_repeated_spans_incremental``."""
    index_docs, batch = _incr_split(spark, sf_dir)
    return DD.remove_repeated_spans_incremental(index_docs, batch)


_SPAN_REMOVAL_SQL = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS lst
    FROM documents
),
win AS (
    SELECT doc_id, t.o AS off,
           ('0x' || substr(md5(array_to_string(lst[o+1 : o+16], ' ')), 1, 15))::BIGINT AS h
    FROM toks,
         LATERAL (SELECT unnest(range(0, greatest(len(lst) - 16 + 1, 0))) AS o) t
),
rep AS (
    SELECT doc_id, off FROM (
        SELECT doc_id, off,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, off) AS rn
        FROM win
    ) WHERE rn > 1
),
isl AS (
    SELECT doc_id, off,
           off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS grp
    FROM rep
),
spans AS (
    SELECT doc_id, min(off) AS s, max(off) + 16 AS e
    FROM isl GROUP BY doc_id, grp
),
sarr AS (
    SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
    FROM spans GROUP BY doc_id
),
cut AS (
    SELECT t.doc_id, t.lst,
           list_filter(
               list_transform(range(0, len(t.lst)),
                   i -> CASE WHEN len(list_filter(a.spans,
                                 sp -> i >= sp.s AND i < sp.e)) > 0
                        THEN NULL ELSE t.lst[i+1] END),
               x -> x IS NOT NULL) AS kept
    FROM toks t JOIN sarr a ON t.doc_id = a.doc_id
    UNION ALL
    SELECT t.doc_id, t.lst, t.lst AS kept
    FROM toks t ANTI JOIN sarr a ON t.doc_id = a.doc_id
)
SELECT doc_id,
       CAST(len(lst) AS BIGINT) AS n_tokens,
       CAST(len(kept) AS BIGINT) AS kept_tokens,
       CAST(len(lst) - len(kept) AS BIGINT) AS removed_tokens,
       md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_fp,
       coalesce(array_to_string(kept, ' '), '') AS cleaned
FROM cut ORDER BY doc_id
"""


@register("dedup_span_removal", _SPAN_REMOVAL_SQL)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the substring-deduplicated corpus: every repeated span
    found by ``dedup_substrings`` is CUT from its document's token
    stream; output is the per-doc audit plus the cleaned text (detect AND
    remove — the Lee et al. 2022 end state). Map-only positional filter
    against the per-doc span array; plan notes in
    ``operators/dedup.remove_repeated_spans``."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return DD.remove_repeated_spans(docs)


# --------------------------------------------------------------------------
# Round 8: scalar-quantized ANN (SQ8 candidates + exact rerank) and
# hybrid lexical+vector retrieval with reciprocal-rank fusion
# --------------------------------------------------------------------------

# Oracle fixes the embedding dimension (64 in every driver table); the
# Spark operator is dimension-agnostic (per-element transform lambdas).
_SQ8_DIM = 64
_SQ8_K, _SQ8_OVERFETCH = 5, 4

_SQ8_SQL = f"""
WITH pd AS (
    SELECT i,
           min(CAST(embedding[i] AS DOUBLE)) AS mn,
           max(CAST(embedding[i] AS DOUBLE)) AS mx
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, {_SQ8_DIM + 1})) AS i) dims
    GROUP BY i
),
stats AS (
    SELECT list(mn ORDER BY i) AS mns,
           list(CASE WHEN mx > mn THEN CAST(128.0 AS DOUBLE) / (mx - mn)
                     ELSE CAST(0.0 AS DOUBLE) END ORDER BY i) AS scs
    FROM pd
),
recon AS (
    SELECT vec_id,
           list_transform(range(1, {_SQ8_DIM + 1}), i ->
               CASE WHEN scs[i] > 0
                    THEN mns[i]
                         + (CAST(least(127, greatest(0,
                               CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * scs[i]) AS BIGINT)
                           )) AS DOUBLE) + 0.5) / scs[i]
                    ELSE mns[i] END) AS xhat
    FROM embeddings CROSS JOIN stats
),
q AS (SELECT vec_id AS query_id, xhat AS qhat FROM recon WHERE vec_id < 8),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, r.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos("q.qhat", "r.xhat")} DESC, r.vec_id ASC
               ) AS rn
        FROM recon r CROSS JOIN q
        WHERE q.query_id != r.vec_id
    ) WHERE rn <= {_SQ8_K * _SQ8_OVERFETCH}
),
qx AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8)
SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT c.query_id, c.vec_id,
           {_cos("qx.qvec", "e.embedding")} AS cosine,
           row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY {_cos("qx.qvec", "e.embedding")} DESC, c.vec_id ASC
           ) AS rank
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN qx ON qx.query_id = c.query_id
) WHERE rank <= {_SQ8_K}
"""


@register("ann_quantized_topk", _SQ8_SQL)
def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN: exact cosine top-5 by reranking the
    top-20 candidates of an int8-quantized scan — the memory-bandwidth
    scale path (4× less data read on the pass that touches the whole
    corpus). Quantizer stats, codes, candidate set, and rerank are all
    deterministic IEEE math; plan notes in
    ``operators/similarity.sq8_topk``."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = SIM.sq8_topk(emb, queries, k=_SQ8_K, overfetch=_SQ8_OVERFETCH)
    return out.withColumn("rank", F.col("rank").cast("int"))


_RRF_DEPTH, _RRF_K, _RRF_C = 50, 10, 60

_RRF_SQL = f"""
WITH {_bm25_ctes("q AS (SELECT doc_id AS query_id, text AS query_text FROM documents WHERE doc_id < 8)", _RRF_DEPTH)},
lex2 AS (SELECT query_id, doc_id, rank FROM lexr WHERE doc_id != query_id),
vecr AS (
    SELECT query_id, vec_id AS doc_id, CAST(rank AS INTEGER) AS rank FROM (
        SELECT q2.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q2.query_id
                   ORDER BY {_cos("q2.qvec", "e.embedding")} DESC, e.vec_id ASC
               ) AS rank
        FROM embeddings e CROSS JOIN
             (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8) q2
        WHERE q2.query_id != e.vec_id
    ) WHERE rank <= {_RRF_DEPTH}
),
fused AS (
    SELECT coalesce(l.query_id, v.query_id) AS query_id,
           coalesce(l.doc_id, v.doc_id) AS doc_id,
           l.rank AS lex_rank, v.rank AS vec_rank,
           coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_C} + l.rank), CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_C} + v.rank), CAST(0.0 AS DOUBLE)) AS rrf_score
    FROM lex2 l FULL OUTER JOIN vecr v
      ON v.query_id = l.query_id AND v.doc_id = l.doc_id
)
SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
    ) AS rank
    FROM fused
) WHERE rank <= {_RRF_K}
ORDER BY query_id, rank
"""


@register("hybrid_rrf_topk", _RRF_SQL)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (depth 50, more-like-this with the query
    doc's own text) fused with embedding-cosine retrieval (depth 50,
    doc_id = vec_id) by reciprocal-rank fusion, top-10 per query. The
    query doc itself is dropped from the lexical list AFTER ranking (it
    holds lexical rank 1 by construction; remaining ranks keep their
    values) and is excluded from the vector list by the ANN operator.
    Plan notes in ``operators/retrieval.rrf_fuse``."""
    from big_data_elt_pipeline_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings")
    queries = docs.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    lex = bm25_topk(docs, queries, k=_RRF_DEPTH).filter(
        F.col("doc_id") != F.col("query_id")
    )
    vec = SIM.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=_RRF_DEPTH
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse(lex, vec, k=_RRF_K, c=_RRF_C)


# Hybrid retrieval from the TWO persisted indexes (r13): the stored-BM25
# lexical leg and the stored-IVF-PQ vector leg fused with RRF — the
# hybrid serving composition both indexes exist for, with no corpus-stats
# recompute and no corpus re-encode anywhere in the plan. Disjoint query
# ids from the ad-hoc hybrid_rrf_topk, and a DIFFERENT vector leg by
# design: the ad-hoc form fuses exact cosine, this one fuses the ADC
# ranking the stored index actually serves (the honest production shape).
_HYB_IDX_LO, _HYB_IDX_HI = 8, 16

_HYBRID_INDEX_SQL = f"""
WITH {_bm25_ctes(f"q AS (SELECT doc_id AS query_id, text AS query_text FROM documents WHERE doc_id >= {_HYB_IDX_LO} AND doc_id < {_HYB_IDX_HI})", _RRF_DEPTH)},
lex2 AS (SELECT query_id, doc_id, rank FROM lexr WHERE doc_id != query_id),
vecr AS (
    SELECT query_id, vec_id AS doc_id, CAST(rank AS INTEGER) AS rank
    FROM ({_ivfpq_sql(f"vec_id >= {_HYB_IDX_LO} AND vec_id < {_HYB_IDX_HI}", k=_RRF_DEPTH)}) t
),
fused AS (
    SELECT coalesce(l.query_id, v.query_id) AS query_id,
           coalesce(l.doc_id, v.doc_id) AS doc_id,
           l.rank AS lex_rank, v.rank AS vec_rank,
           coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_C} + l.rank), CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_C} + v.rank), CAST(0.0 AS DOUBLE)) AS rrf_score
    FROM lex2 l FULL OUTER JOIN vecr v
      ON v.query_id = l.query_id AND v.doc_id = l.doc_id
)
SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
    ) AS rank
    FROM fused
) WHERE rank <= {_RRF_K}
ORDER BY query_id, rank
"""


@register("hybrid_index_topk", _HYBRID_INDEX_SQL)
def q_hybrid_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval SERVED FROM THE PERSISTED INDEXES: the lexical
    leg probes the stored BM25 tables (term-range-pruned postings scan,
    stored exact corpus stats), the vector leg probes the stored IVF-PQ
    codes (manifest cell pruning, broadcast quantizer state), both at
    depth 50, fused by reciprocal rank — a full hybrid answer whose plan
    never tokenizes, re-encodes, or aggregates the corpus. The vector
    leg fuses the ADC ranking the stored index actually serves (the
    ad-hoc ``hybrid_rrf_topk`` fuses exact cosine — different by
    design). Contracts in ``operators/text_index.bm25_index_probe``,
    ``operators/ann_index.ivfpq_probe``, ``operators/retrieval.
    rrf_fuse``."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX
    from big_data_elt_pipeline_spark.operators import text_index as TIX
    from big_data_elt_pipeline_spark.operators.retrieval import rrf_fuse

    text_idx = _staged_index(spark, sf_dir, "text_index", _build_text)
    ann_idx = _staged_index(spark, sf_dir, "ann_index", _build_ann)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(
        (F.col("doc_id") >= _HYB_IDX_LO) & (F.col("doc_id") < _HYB_IDX_HI)
    ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    lex = TIX.bm25_index_probe(
        spark, text_idx, queries, k=_RRF_DEPTH
    ).filter(F.col("doc_id") != F.col("query_id"))
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vq = emb.filter(
        (F.col("vec_id") >= _HYB_IDX_LO) & (F.col("vec_id") < _HYB_IDX_HI)
    )
    vec = AIX.ivfpq_probe(
        spark, ann_idx, vq, k=_RRF_DEPTH, n_probe=_IVF_PROBE
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse(lex, vec, k=_RRF_K, c=_RRF_C)


# --------------------------------------------------------------------------
# pagerank_centrality: fixed-point PageRank over the quadratic-map link
# fixture — the web-corpus centrality signal (OpenWebText karma cut /
# harmonic-centrality weighting), in the only oracle-hashable form: pure
# bigint arithmetic (see operators/graph.py for the determinism contract).
# The oracle unrolls the iteration as generated chained CTEs (standard
# recursive CTEs forbid GROUP BY in the recursive term).
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_TOP = 25


def _pagerank_sql() -> str:
    from big_data_elt_pipeline_spark.operators.graph import FANOUT, RANK_SCALE

    arms = "\n    UNION ALL ".join(
        f"SELECT node AS src, (node*node + {j}*node + {j*j}) % n AS dst "
        "FROM nodes, meta"
        for j in range(1, FANOUT + 1)
    )
    rounds = "".join(
        f""",
r{k} AS (
    SELECT b.node,
           (15 * b.r_init) // 100 + (85 * coalesce(s.insum, 0)) // 100 AS r
    FROM base b LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(p.r // e.deg) AS BIGINT) AS insum
        FROM edges e JOIN r{k-1} p ON e.src = p.node GROUP BY e.dst
    ) s USING (node)
)"""
        for k in range(1, _PR_ITERS + 1)
    )
    return f"""
WITH nodes AS (SELECT doc_id AS node FROM documents),
meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
edges0 AS (
    {arms}
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges0 GROUP BY src),
edges AS (SELECT e.src, e.dst, d.deg FROM edges0 e JOIN deg d USING (src)),
base AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) // n AS r_init FROM nodes, meta),
r0 AS (SELECT node, r_init AS r FROM base){rounds}
SELECT node, r AS rank_scaled, r / {float(RANK_SCALE)} AS rank
FROM r{_PR_ITERS}
ORDER BY rank_scaled DESC, node ASC
LIMIT {_PR_TOP}
"""


@register("pagerank_centrality", _pagerank_sql())
def q_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 documents by 5-round damped PageRank over the synthetic
    quadratic-map link graph. Bigint fixed-point update rule —
    ``(15*r_init) DIV 100 + (85*sum(rank DIV deg)) DIV 100`` — so the
    result is bit-identical under any partitioning/join order (a
    float PageRank cannot be value-hashed). Per-round cost: one src-keyed
    equi-join + one partial-aggregated groupBy(dst) that collapses hot
    in-degree keys map-side; contract in ``operators/graph``."""
    from big_data_elt_pipeline_spark.operators.graph import (
        pagerank_fixed_point,
        synthetic_links,
    )

    nodes = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    pr = pagerank_fixed_point(nodes, synthetic_links(nodes), iters=_PR_ITERS)
    return pr.orderBy(F.desc("rank_scaled"), F.asc("node")).limit(_PR_TOP)


# --------------------------------------------------------------------------
# embedding_covariance: the d x d covariance of the embedding cloud as
# relational algebra (RowMatrix.computeCovariance without the imperative
# path) — exact-decimal sums make the matrix value-hashable cross-engine.
# --------------------------------------------------------------------------

_COV_DIM = 64

_COV_CTES = f"""e AS (SELECT embedding FROM embeddings),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
comp AS (
    SELECT t.i AS i,
           CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE) AS vi
    FROM e, unnest(range(0, {_COV_DIM})) AS t(i)
),
means AS (
    SELECT i,
           CAST(sum(CAST(round(vi, 9) AS DECIMAL(25,9))) AS DOUBLE)
               / CAST(max(n.n) AS DOUBLE) AS mu
    FROM comp, n GROUP BY i
),
pairs AS (
    SELECT a.i AS i, b.i AS j,
           CAST(round((CAST(embedding[CAST(a.i AS INT) + 1] AS DOUBLE) - ma.mu)
                    * (CAST(embedding[CAST(b.i AS INT) + 1] AS DOUBLE) - mb.mu),
                      12) AS DECIMAL(38,12)) AS p
    FROM e,
         unnest(range(0, {_COV_DIM})) AS a(i),
         unnest(range(0, {_COV_DIM})) AS b(i),
         means ma, means mb
    WHERE ma.i = a.i AND mb.i = b.i AND b.i >= a.i
),
covu AS (
    SELECT i, j, CAST(sum(p) AS DOUBLE) / CAST(max(n.n) AS DOUBLE) AS cov
    FROM pairs, n GROUP BY i, j
)"""

_COV_SQL = f"""
WITH {_COV_CTES}
SELECT i, j, cov FROM covu
ORDER BY i, j
"""


@register("embedding_covariance", _COV_SQL)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper triangle of the embedding cloud's 64x64 covariance matrix —
    the PCA/whitening prep step — as two bounded aggregations with exact
    DECIMAL accumulation (snapped 9-dp means, 12-dp centered products):
    bit-identical under any partitioning and in the DuckDB oracle, which
    a float RowMatrix covariance can never be. Shuffle volume is bounded
    by d and d(d+1)/2 keys regardless of corpus size; means ride a
    broadcast single-row array. Contract in
    ``operators/similarity.embedding_covariance``."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.embedding_covariance(emb, _COV_DIM).orderBy("i", "j")


# --------------------------------------------------------------------------
# pca_top_component: principal component by power iteration over the
# covariance relation — every round snapped (12-dp matvec products as
# DECIMAL, 9-dp normalized vector, correctly-rounded sqrt), so even the
# eigenvector is value-hashable. Oracle = generated unrolled rounds over
# the shared covariance CTEs.
# --------------------------------------------------------------------------

_PCA_ITERS = 10


def _pca_sql() -> str:
    rounds = "".join(
        f""",
w{k} AS MATERIALIZED (
    SELECT m.i AS i,
           CAST(sum(CAST(round(m.cov * v.x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS w
    FROM mat m JOIN v{k-1} v ON m.j = v.i GROUP BY m.i
),
n{k} AS MATERIALIZED (
    SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nr
    FROM w{k}
),
v{k} AS MATERIALIZED (SELECT i, round(w / nr, 9) AS x FROM w{k}, n{k})"""
        for k in range(1, _PCA_ITERS + 1)
    )
    return f"""
WITH {_COV_CTES},
mat AS MATERIALIZED (
    SELECT i, j, cov FROM covu
    UNION ALL
    SELECT j AS i, i AS j, cov FROM covu WHERE i <> j
),
v0 AS (SELECT DISTINCT i, CAST(0.125 AS DOUBLE) AS x FROM mat){rounds}
SELECT i, x AS loading, nr AS eigval
FROM v{_PCA_ITERS}, n{_PCA_ITERS}
ORDER BY i
"""


@register("pca_top_component", _pca_sql())
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the embedding cloud: 10 power-iteration
    rounds over the relational covariance matrix, fully snapped arithmetic
    so the iterate is bit-identical cross-engine whether or not it has
    converged — the property no float eigensolver has. The matrix relation
    is dimension-sized (d^2 rows, persisted); each round is one
    broadcast-scale join + two bounded aggregations. Contracts in
    ``operators/similarity.embedding_covariance`` / ``pca_power_iteration``."""
    emb = read_table(spark, sf_dir, "embeddings")
    cov = SIM.embedding_covariance(emb, _COV_DIM)
    iters = bench_iters("SPARK_GRAFT_BENCH_ITERS_PCA", _PCA_ITERS)
    return SIM.pca_power_iteration(cov, _COV_DIM, iters=iters).orderBy("i")


# --------------------------------------------------------------------------
# kmeans_centroids: Lloyd's k-means as a fixed point of exact arithmetic —
# the value-hashable twin of the annex pyspark.ml KMeans query. Oracle =
# generated unrolled rounds (the PCA idiom): assignment by snapped-decimal
# distance with (d, cid) tie-break, means as DECIMAL sums / exact counts.
# --------------------------------------------------------------------------

_KM_DIM = 64
_KM_K = 8
_KM_ITERS = 5


def _kmeans_sql() -> str:
    comp = "CAST(p.embedding[CAST({i} AS INT) + 1] AS DOUBLE)"
    # assignment / update rounds, unrolled
    rounds = ""
    for r in range(1, _KM_ITERS + 1):
        rounds += f""",
d{r} AS MATERIALIZED (
    SELECT p.pid AS pid, c.cid AS cid,
           sum(CAST(round(({comp.format(i='c.i')} - c.x)
                        * ({comp.format(i='c.i')} - c.x), 12)
               AS DECIMAL(38,12))) AS d
    FROM pts p, c{r-1} c
    GROUP BY 1, 2
),
a{r} AS MATERIALIZED (
    SELECT pid, cid FROM (
        SELECT pid, cid,
               row_number() OVER (PARTITION BY pid ORDER BY d ASC, cid ASC) AS rn
        FROM d{r}
    ) WHERE rn = 1
),
m{r} AS MATERIALIZED (
    SELECT a.cid AS cid, t.i AS i,
           round(CAST(sum(CAST(round({comp.format(i='t.i')}, 9)
                               AS DECIMAL(25,9))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 9) AS mu,
           count(*) AS n
    FROM a{r} a JOIN pts p USING (pid),
         unnest(range(0, {_KM_DIM})) AS t(i)
    GROUP BY 1, 2
),
c{r} AS MATERIALIZED (
    SELECT prev.cid, prev.i, coalesce(m.mu, prev.x) AS x
    FROM c{r-1} prev LEFT JOIN m{r} m ON m.cid = prev.cid AND m.i = prev.i
)"""
    return f"""
WITH pts AS MATERIALIZED (
    SELECT vec_id AS pid, embedding FROM embeddings
),
c0 AS MATERIALIZED (
    SELECT b.cid AS cid, t.i AS i,
           round(CAST(b.e[CAST(t.i AS INT) + 1] AS DOUBLE), 9) AS x
    FROM (
        SELECT CAST(pid % {_KM_K} AS INT) AS cid, arg_min(embedding, pid) AS e
        FROM pts GROUP BY 1
    ) b, unnest(range(0, {_KM_DIM})) AS t(i)
){rounds}
SELECT c.cid AS cluster_id,
       CAST(coalesce(s.n, 0) AS BIGINT) AS n_points,
       CAST(c.i AS BIGINT) AS i,
       c.x AS loading
FROM c{_KM_ITERS} c
LEFT JOIN (SELECT cid, count(*) AS n FROM a{_KM_ITERS} GROUP BY 1) s USING (cid)
ORDER BY cluster_id, i
"""


@register("kmeans_centroids", _kmeans_sql())
def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 Lloyd's k-means over the embedding cloud, 5 rounds, every
    intermediate snapped (decimal distance sums, 9-dp means, min-id hash
    bucket init, (distance, cid) tie-break) so even the centroids of a
    float clustering algorithm are value-hashable cross-engine — the
    audit-grade twin of the annex ``ml_kmeans_segments`` (pyspark.ml,
    seeded float path). Each round is one corpus scan against a k-row
    broadcast + a k*dim-key bounded aggregation: no corpus shuffle, skew
    cannot concentrate (partial aggregation collapses an
    everything-in-one-cluster corpus map-side). Contract in
    ``operators/similarity.kmeans_lloyd_fixed_point``; reference twin
    src/ml/segmentation.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    iters = bench_iters("SPARK_GRAFT_BENCH_ITERS_KMEANS", _KM_ITERS)
    return SIM.kmeans_lloyd_fixed_point(
        emb, _KM_DIM, k=_KM_K, iters=iters
    ).orderBy("cluster_id", "i")


# --------------------------------------------------------------------------
# embedding_audit: the vector-table hygiene audit (NULLs, wrong dims,
# non-finite components, zero vectors, norm distribution) every
# similarity/clustering pass should gate on.
# --------------------------------------------------------------------------

_EMB_AUDIT_SQL = f"""
WITH comp AS (
    -- non-finite vectors excluded: their norm is undefined (counted
    -- under n_nonfinite); wrong-dim vectors keep their norm. A NULL
    -- component is flagged explicitly (x IS NULL) so both engines count
    -- it under n_nonfinite and exclude it from norms — see
    -- operators/profiling.embedding_audit.
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL
                          OR isnan(CAST(x AS DOUBLE))
                          OR abs(CAST(x AS DOUBLE)) > 1e308)) = 0
),
norms AS (
    SELECT round(sqrt(CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
                           AS DOUBLE)), 6) AS norm
    FROM comp GROUP BY vec_id
),
flags AS (
    SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
           CASE WHEN embedding IS NOT NULL AND len(embedding) <> {_COV_DIM}
                THEN 1 ELSE 0 END AS wrong_dim,
           CASE WHEN embedding IS NOT NULL AND len(list_filter(embedding,
                     x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                          OR abs(CAST(x AS DOUBLE)) > 1e308)) > 0
                THEN 1 ELSE 0 END AS bad_val,
           CASE WHEN embedding IS NOT NULL AND len(list_filter(embedding,
                     x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                          OR abs(CAST(x AS DOUBLE)) > 1e308)) = 0
                     AND len(list_filter(embedding,
                             x -> CAST(x AS DOUBLE) <> 0.0)) = 0
                THEN 1 ELSE 0 END AS zero
    FROM embeddings
)
SELECT metric, value FROM (
    SELECT 'n_vectors' AS metric, CAST(count(*) AS DOUBLE) AS value FROM flags
    UNION ALL SELECT 'n_null', CAST(sum(is_null) AS DOUBLE) FROM flags
    UNION ALL SELECT 'n_wrong_dim', CAST(sum(wrong_dim) AS DOUBLE) FROM flags
    UNION ALL SELECT 'n_nonfinite', CAST(sum(bad_val) AS DOUBLE) FROM flags
    UNION ALL SELECT 'n_zero', CAST(sum(zero) AS DOUBLE) FROM flags
    UNION ALL SELECT 'norm_p01', quantile_cont(norm, 0.01) FROM norms
    UNION ALL SELECT 'norm_p50', quantile_cont(norm, 0.50) FROM norms
    UNION ALL SELECT 'norm_p99', quantile_cont(norm, 0.99) FROM norms
)
ORDER BY metric
"""


@register("embedding_audit", _EMB_AUDIT_SQL)
def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene audit: NULL/wrong-dim/non-finite/zero-vector
    counts plus the norm distribution at p01/p50/p99 — one corpus scan for
    the flags, one bounded value-histogram pass for the exact percentiles
    (norms are decimal-exact 12-dp-snapped square sums quantized to 6 dp,
    so the histogram state is bounded by the value domain). Contract in
    ``operators/profiling.embedding_audit``."""
    from big_data_elt_pipeline_spark.operators.profiling import embedding_audit

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_audit(emb, _COV_DIM).orderBy("metric")


# --------------------------------------------------------------------------
# knn_graph_mutual: the bucketed k-NN graph + mutual-kNN symmetrization —
# the edge relation graph-based curation (SemDeDup clustering, graph
# dedup) builds on. Oracle mirrors the same bucketed algorithm (the
# ann_lsh_topk discipline), so the check stays exact.
# --------------------------------------------------------------------------

_KNN_SQL = f"""
WITH {_nb_cte("embeddings", 32)},
{_mu_ctes_dyn("embeddings")},
b AS (
    SELECT vec_id, embedding,
           {_sign_bucket_sql_dyn("embedding", "m.mus")} AS bucket
    FROM embeddings, muarr m, nb
),
scored AS (
    SELECT s.vec_id AS src, d.vec_id AS dst,
           {_cos("s.embedding", "d.embedding")} AS cosine
    FROM b s JOIN b d USING (bucket)
    WHERE s.vec_id != d.vec_id
),
edges AS (
    SELECT src, dst, cosine,
           CAST(row_number() OVER (PARTITION BY src
                ORDER BY cosine DESC, dst ASC) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 5
)
SELECT e.src, e.dst, e.cosine, e.rank,
       coalesce(r.m, false) AS mutual
FROM edges e
LEFT JOIN (SELECT dst AS src, src AS dst, true AS m FROM edges) r
       USING (src, dst)
ORDER BY src, rank
"""


@register("knn_graph_mutual", _KNN_SQL)
def q_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph (k=5) over sign-bucket candidates with the mutual-kNN
    flag: corpus self-equi-join on the bucket key (no broadcast, no
    cartesian), per-src top-k window over bucket-bounded candidates, one
    reversed-pair self-join of the k-sized edge relation. Contract in
    ``operators/similarity.knn_graph``."""
    emb = read_table(spark, sf_dir, "embeddings")
    # corpus-derived n_bits (oracle mirrors via _nb_cte, target 32) — the
    # r10 verdict's weak mark: fixed widths are pair-count quadratic
    return SIM.knn_graph(emb, k=5).orderBy("src", "rank")


# --------------------------------------------------------------------------
# knn_semantic_clusters: mutual-kNN edges -> connected components — the
# graph-clustering step of SemDeDup-style semantic curation, composed
# from knn_graph + the pointer-jumping CC resolver. Oracle = the same
# mutual edge relation closed transitively by a recursive CTE (the
# dedup_clusters discipline: different plans, identical fixpoint).
# --------------------------------------------------------------------------

_KNN_CLUSTERS_SQL = f"""
WITH RECURSIVE kpairs AS (
    SELECT src AS id1, dst AS id2 FROM (
{_KNN_SQL}
    ) WHERE mutual AND src < dst
),
und AS (
    SELECT id1 AS u, id2 AS v FROM kpairs
    UNION
    SELECT id2 AS u, id1 AS v FROM kpairs
),
reach(u, v) AS (
    SELECT u, v FROM und
    UNION
    SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
),
labels AS (
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM labels
ORDER BY doc_id
"""


@register("knn_semantic_clusters", _KNN_CLUSTERS_SQL)
def q_knn_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN edges resolved to connected components: one row per
    clustered vector with the deterministic canonical (= component-min
    id) — the graph-clustering backbone of semantic dedup/curation.
    Composition of two gated kernels: the bucketed k-NN graph (no
    broadcast, no cartesian) and the O(log d) pointer-jumping CC
    resolver; the oracle closes the same edge relation with a recursive
    CTE. Contracts in ``operators/similarity.knn_graph`` /
    ``operators/dedup.neardup_clusters``."""
    emb = read_table(spark, sf_dir, "embeddings")
    edges = (
        SIM.knn_graph(emb, k=5)
        .filter(F.col("mutual") & (F.col("src") < F.col("dst")))
        .select(F.col("src").alias("id1"), F.col("dst").alias("id2"))
    )
    return DD.neardup_clusters(edges).orderBy("doc_id")
