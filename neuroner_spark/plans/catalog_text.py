"""Oracle-checked text-pipeline catalog: quality scoring, language-ID,
token counting, fingerprinting, dedup (exact / n-gram Jaccard /
MinHash / SimHash) and embedding similarity search.

These are the training-data-pipeline operators (SURVEY.md §2 extension
set). Every hash is the md5-prefix ``hash64``/``hash28`` so DuckDB can
reproduce it bit-for-bit; on a Spark-only deployment swap xxhash64 in.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from neuroner_spark.functions.text_analysis import (
    SCRIPT_RANGES,
    SCRIPT_ROUTES,
    STOPWORDS,
    avg_token_len,
    fingerprint,
    n_regex_tokens,
    n_ws_tokens,
    punct_ratio,
    quality_score,
    stopword_ratio,
)
from neuroner_spark.io import pin
from neuroner_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from neuroner_spark.operators.similarity import cosine_topk, knn_join_topk, lsh_signatures


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- text quality profile (per doc; all JVM expressions, single scan)
def q_text_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        n_ws_tokens(F.col("text")).cast("long").alias("n_tokens"),
        n_regex_tokens(F.col("text")).cast("long").alias("n_rtokens"),
        F.round(avg_token_len(F.col("text")), 6).alias("avg_tok_len"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text"), "en"), 6).alias("sw_ratio_en"),
        quality_score(F.col("text")).alias("quality"),
    )


SQL_TEXT_QUALITY = """
WITH base AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_rtokens,
         length(replace(text, ' ', '')) AS n_chars_nospace,
         length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS n_punct,
         length(text) AS n_chars,
         len(list_filter(string_split(lower(text), ' '),
             t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS n_sw
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_rtokens AS BIGINT) AS n_rtokens,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_chars_nospace AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS avg_tok_len,
       round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_sw AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS sw_ratio_en,
       round(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE)/n_chars < 0.2 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_tokens > 0 AND CAST(n_sw AS DOUBLE)/n_tokens > 0.01 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
FROM base
"""


# --- language-ID heuristic: stopword-overlap scores -> confusion vs tagged lang
def q_lang_id(spark, sf_dir):
    from neuroner_spark.functions.text_analysis import lang_guess

    d = _docs(spark, sf_dir)
    return (
        d.select(F.col("lang"), lang_guess(F.col("text")).alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n"))
    )


def _sw_list(lang):
    return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _lang_id_sql() -> str:
    """Generated from the SAME ``STOPWORDS`` + ``SCRIPT_RANGES`` /
    ``SCRIPT_ROUTES`` tables (languages + dict order = tie-break;
    script routing order + thresholds, r6) as ``lang_guess``, so
    widening either table can never drift the two sides apart."""
    langs = list(STOPWORDS)
    score_cols = ",\n         ".join(
        f"len(list_filter(string_split(lower(text), ' '), "
        f"t -> list_contains({_sw_list(l)}, t))) AS s_{l}"
        for l in langs
    )
    ratio_cols = ",\n         ".join(
        f"length(regexp_replace(text, '[^{SCRIPT_RANGES[s]}]', '', 'g')) * 1.0"
        f" / greatest(length(regexp_replace(text, '\\s', '', 'g')), 1) AS r_{s}"
        for s, _, _ in SCRIPT_ROUTES
    )
    script_cases = "\n            ".join(
        f"WHEN r_{s} >= {thr} THEN '{lang}'" for s, lang, thr in SCRIPT_ROUTES
    )
    sw_cases = "\n            ".join(
        "WHEN " + " AND ".join(f"s_{l} >= s_{l2}" for l2 in langs[i + 1 :]) + f" THEN '{l}'"
        for i, l in enumerate(langs[:-1])
    )
    return f"""
WITH scored AS (
  SELECT lang,
         {ratio_cols},
         {score_cols}
  FROM documents
)
SELECT lang,
       CASE {script_cases}
            {sw_cases}
            ELSE '{langs[-1]}' END AS guess,
       count(*) AS n
FROM scored GROUP BY 1, 2
"""


SQL_LANG_ID = _lang_id_sql()


# --- exact dedup by md5 fingerprint
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""


# --- n-gram Jaccard near-dup pairs (shingle equi-join, never all-pairs)
def q_dedup_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.05, max_df=10000)


SQL_DEDUP_JACCARD = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle_hash
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
           i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS shingle
    FROM toks WHERE len(l) >= 3
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.shingle_hash = y.shingle_hash AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
"""


# --- benchmark decontamination (eval-set n-gram overlap) ---------------
def q_dedup_contamination(spark, sf_dir):
    """GPT-3/PaLM-style decontamination demo: benchmark = the first 5
    documents; every corpus doc reports its shingle overlap with them
    (the benchmark docs themselves score 1.0 — deterministic)."""
    from neuroner_spark.operators.dedup import benchmark_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 5)
    return benchmark_contamination(docs, bench, n=3, flag_threshold=0.05)


SQL_DEDUP_CONTAMINATION = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS shingle_hash
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
           i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS shingle
    FROM toks WHERE len(l) >= 3
  )
), bench AS (
  SELECT DISTINCT shingle_hash FROM sh WHERE doc_id < 5
), per_doc AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1
), dirty AS (
  SELECT doc_id, count(*) AS n_contaminated FROM sh
  WHERE shingle_hash IN (SELECT shingle_hash FROM bench) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(x.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(x.n_contaminated, 0) / CAST(coalesce(p.n_shingles, 1) AS DOUBLE), 6)
         AS contaminated_frac,
       coalesce(x.n_contaminated, 0) / CAST(coalesce(p.n_shingles, 1) AS DOUBLE) > 0.05
         AS flagged
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
LEFT JOIN dirty x ON d.doc_id = x.doc_id
"""


# --- END-TO-END near-dup corpus dedup: banding -> capped pairs +
# giant-bucket star edges -> connected components -> keep-one (the
# composition a 100 TB pipeline runs; r3 verdict top_next item).
# max_bucket=2 at this toy scale so BOTH edge paths are live in the
# driver check (sf0.01 has 25 pair edges and 5 giant-star edges);
# production default is 1000.
def q_dedup_near_corpus(spark, sf_dir):
    from neuroner_spark.operators.dedup import near_dedup_corpus

    return near_dedup_corpus(_docs(spark, sf_dir), n=3, bands=4, max_bucket=2)


def _near_corpus_sql(max_bucket: int = 2) -> str:
    from neuroner_spark.operators.dedup import MINHASH_PARAMS, PRIME_31

    mins = ",\n         ".join(
        f"CAST(min((shingle_hash * {a % PRIME_31} + {b}) % {PRIME_31}) AS BIGINT) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {bi} AS band_id, "
        f"CAST(h{2 * bi} AS VARCHAR) || '_' || CAST(h{2 * bi + 1} AS VARCHAR) AS bs FROM sig"
        for bi in range(4)
    )
    # min-label propagation: labels only travel toward LARGER node ids
    # (the component min is below every member, so it still reaches all)
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS shingle_hash
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
           i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS shingle
    FROM toks WHERE len(l) >= 3
  )
), sig AS (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
), banded AS (
  SELECT doc_id, band_id,
         CAST(('0x' || substring(md5(bs), 1, 15)) AS BIGINT) AS band_hash
  FROM (
{band_rows}
  )
), sizes AS (
  SELECT band_id, band_hash, count(*) AS n_docs, min(doc_id) AS keep_id
  FROM banded GROUP BY 1, 2
), pair_edges AS (
  SELECT DISTINCT x.doc_id AS src, y.doc_id AS dst
  FROM banded x
  JOIN banded y ON x.band_id = y.band_id AND x.band_hash = y.band_hash
               AND x.doc_id < y.doc_id
  JOIN sizes s ON s.band_id = x.band_id AND s.band_hash = x.band_hash
  WHERE s.n_docs <= {max_bucket}
), giant_edges AS (
  SELECT DISTINCT b.doc_id AS src, s.keep_id AS dst
  FROM banded b
  JOIN sizes s ON s.band_id = b.band_id AND s.band_hash = b.band_hash
  WHERE s.n_docs > {max_bucket} AND b.doc_id <> s.keep_id
), sym AS (
  SELECT src AS a, dst AS b FROM (SELECT * FROM pair_edges UNION SELECT * FROM giant_edges)
  UNION
  SELECT dst, src FROM (SELECT * FROM pair_edges UNION SELECT * FROM giant_edges)
), reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM documents
  UNION
  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node WHERE r.lab < s.b
)
SELECT node AS doc_id, min(lab) AS component, (min(lab) = node) AS keep
FROM reach GROUP BY node
"""


# --- C4-style duplicated-span detection (Raffel et al. 2020 §2.2) as
# a driver query (upgraded r4 from pytest-only; slot freed by merging
# value_stats into distinct_users).
def q_dup_spans(spark, sf_dir):
    from neuroner_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), n_sents=3, min_df=2)


# DuckDB is RE2 (no lookbehind), so the Spark sentence split
# `(?<=[.!?])\s+` is reproduced by rewriting each `[.!?]\s+` boundary
# to punct + \x01 and splitting on \x01 — byte-equivalent on any text
# without control chars.
SQL_DUP_SPANS = """
WITH sents AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)) AS s
  FROM documents
), spans AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(lower(sp)), 1, 15)) AS BIGINT) AS span_hash
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(s) - 1, 1)),
           i -> concat_ws(' ', s[i], s[i+1], s[i+2]))) AS sp
    FROM sents WHERE len(s) >= 3
  )
), dfc AS (
  SELECT span_hash, count(*) AS df FROM spans GROUP BY 1
), dup AS (
  SELECT doc_id, count(*) AS n_dup FROM spans
  WHERE span_hash IN (SELECT span_hash FROM dfc WHERE df >= 2) GROUP BY 1
), tot AS (
  SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(t.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(x.n_dup, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN coalesce(t.n_spans, 0) = 0 THEN 0.0
            ELSE round(coalesce(x.n_dup, 0) / CAST(t.n_spans AS DOUBLE), 6)
       END AS dup_span_frac
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN dup x ON d.doc_id = x.doc_id
"""


# --- MinHash signatures (k=8 universal hashes over 28-bit shingle hashes)
def q_minhash_signatures(spark, sf_dir):
    return minhash_signatures(_docs(spark, sf_dir), n=3)


def _minhash_sql():
    from neuroner_spark.operators.dedup import MINHASH_PARAMS, PRIME_31

    mins = ",\n         ".join(
        f"CAST(min((shingle_hash * {a % PRIME_31} + {b}) % {PRIME_31}) AS BIGINT) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS shingle_hash
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(l) - 1, 1)),
           i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS shingle
    FROM toks WHERE len(l) >= 3
  )
)
SELECT doc_id,
         {mins}
FROM sh GROUP BY doc_id
"""


# --- SimHash near-dedup, end to end (r6: upgraded from
# signatures-only).  Spark runs the production composition —
# exact-signature piles -> pigeonhole-blocked verified pairs over
# representatives -> connected components -> keep-one
# (`simhash_near_dedup`, Manku et al. WWW'07) — while the oracle
# takes the SHORT road the operator exists to avoid: brute-force
# all-pairs bit_count(xor) <= d over the same md5-derived signatures,
# then recursive-CTE min-label components.  Equality holds because
# within the bucket cap the pigeonhole construction has recall 1.0
# and piles only pre-merge hamming-0 pairs the brute force also sees.
# bits=32/d=1 keeps the oracle's 125k-pair self-join trivial at
# sf0.01 and gives the fixture corpus meaningful-but-unchained
# structure (434 keeps, max cluster 13; d=2 chains a 154-doc
# component, bits=16 collapses 487 docs — measured before choosing).
def q_simhash(spark, sf_dir):
    from neuroner_spark.operators.dedup import simhash_near_dedup

    docs = _docs(spark, sf_dir)
    sig = pin(simhash(docs, bits=32), "local_checkpoint")
    # all_docs from the materialized signatures (r7): the final inner
    # join on sig drops signature-less docs anyway, so re-scanning the
    # corpus (+ a distinct exchange) for the doc universe changed
    # nothing about this query's output — one row per signed doc either
    # way, values identical (oracle-checked).
    nd = simhash_near_dedup(
        docs, bits=32, max_hamming=1, signatures=sig, all_docs=sig.select("doc_id")
    )
    return sig.join(nd, "doc_id").select("doc_id", "simhash", "component", "keep")


SQL_SIMHASH = """
WITH RECURSIVE th AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS th
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
), bits AS (
  SELECT doc_id, bit, sum(((th >> bit) & 1) * 2 - 1) AS s
  FROM th, (SELECT unnest(range(0, 32)) AS bit)
  GROUP BY doc_id, bit
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), pair_edges AS (
  SELECT x.doc_id AS src, y.doc_id AS dst
  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 1
), sym AS (
  SELECT src AS a, dst AS b FROM pair_edges
  UNION
  SELECT dst, src FROM pair_edges
), reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM documents
  UNION
  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node WHERE r.lab < s.b
), comp AS (
  SELECT node AS doc_id, min(lab) AS component, (min(lab) = node) AS keep
  FROM reach GROUP BY node
)
SELECT g.doc_id, g.simhash, c.component, c.keep
FROM sig g JOIN comp c ON c.doc_id = g.doc_id
"""


# --- k-NN join: top-5 per query vector (queries broadcast), PLUS the
# single-query brute-force top-k as a tagged branch (r6 tag-merge:
# `knn_cosine` folded in under the driver's 50-query budget — variant
# 'single' is cosine_topk over query vector 0, k=10; variant 'join'
# is the multi-query knn_join_topk shape).  Both exercise the same
# broadcast-query/TakeOrdered plan family.
def q_knn_cosine(spark, sf_dir):
    """Single-query brute-force cosine top-k — kept as the bench /
    explain-audit surface; its REGISTRY slot is the 'single' variant
    inside ``knn_join`` (r6 tag-merge, slot freed for er_quality)."""
    return cosine_topk(_emb(spark, sf_dir), query_id=0, k=10)


def q_knn_join(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    join_part = knn_join_topk(corpus, queries, k=5).withColumn(
        "variant", F.lit("join")
    )
    single_part = cosine_topk(_emb(spark, sf_dir), query_id=0, k=10).select(
        F.lit(0).cast("long").alias("q_id"),
        "vec_id",
        "cos_sim",
        "rank",
        F.lit("single").alias("variant"),
    )
    return join_part.unionByName(single_part)


SQL_KNN_JOIN = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 3),
expanded AS (
  SELECT q.q_id, e.vec_id,
         unnest(e.embedding)::DOUBLE AS a,
         unnest(q.q_emb)::DOUBLE AS b
  FROM embeddings e, q WHERE e.vec_id >= 3
), dots AS (
  SELECT q_id, vec_id, sum(a*b) AS dot, sqrt(sum(a*a)) AS na, sqrt(sum(b*b)) AS nb
  FROM expanded GROUP BY q_id, vec_id
), sq AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
sexpanded AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS a,
         unnest(sq.q_emb)::DOUBLE AS b
  FROM embeddings e, sq WHERE e.vec_id <> 0
), sdots AS (
  SELECT vec_id, sum(a*b) AS dot, sqrt(sum(a*a)) AS na, sqrt(sum(b*b)) AS nb
  FROM sexpanded GROUP BY vec_id
)
SELECT q_id, vec_id, cos_sim, rank, 'join' AS variant FROM (
  SELECT q_id, vec_id, round(dot / (na * nb), 6) AS cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY round(dot / (na * nb), 6) DESC, vec_id ASC) AS rank
  FROM dots
) WHERE rank <= 5
UNION ALL
SELECT CAST(0 AS BIGINT) AS q_id, vec_id, cos_sim, rank, 'single' AS variant FROM (
  SELECT vec_id, round(dot / (na * nb), 6) AS cos_sim,
         row_number() OVER (ORDER BY round(dot / (na * nb), 6) DESC, vec_id ASC) AS rank
  FROM sdots
) WHERE rank <= 10
"""


# --- random-hyperplane LSH signatures (the ANN scale path's bucketing)
def q_lsh_signatures(spark, sf_dir):
    return lsh_signatures(_emb(spark, sf_dir), n_planes=8, dim=64)


SQL_LSH_SIGNATURES = """
WITH expanded AS (
  SELECT vec_id, p.plane,
         unnest(embedding)::DOUBLE AS a,
         unnest(list_transform(range(0, 64),
            j -> ((p.plane * 64 + j) * 2654435761 % 1000) / 500.0 - 1.0)) AS h
  FROM embeddings, (SELECT unnest(range(0, 8)) AS plane) p
), dots AS (
  SELECT vec_id, plane, sum(a * h) AS dot FROM expanded GROUP BY vec_id, plane
)
SELECT vec_id,
       CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS BIGINT) AS sig
FROM dots GROUP BY vec_id
"""


# --- embedding-cosine near-dup pairs, label-blocked with a block-size
# cap (r4: the uncapped block join measured 108x pairs at 10x data —
# same quadratic family the shingle/band caps guard). max_block=1000
# is far above every sf0.01/sf0.1 block, so the DuckDB oracle (which
# models no cap) stays value-identical at driver scales; over-cap
# blocks at web scale route to near_dedup_vectors' LSH path.
def q_dedup_embedding(spark, sf_dir):
    from neuroner_spark.operators.similarity import embedding_blocked_pairs

    emb = _emb(spark, sf_dir).select("vec_id", "label", "embedding")
    return embedding_blocked_pairs(emb, block_col="label", min_cos=0.2, max_block=1000)


# ASYMMETRY, by design: this SQL is the UNCAPPED all-pairs form —
# DuckDB models no max_block.  It is value-identical to the Spark
# query only while every label block at the oracle's scale stays under
# max_block=1000 (true at sf0.001/0.01/0.1: the largest block is ~100
# vectors).  If the driver ever ran oracles at a scale where a block
# tops 1000, the Spark side would route that block to the
# embedding_giant_blocks side output and this oracle would diverge —
# correctly, because the cap IS the semantic difference being tested
# elsewhere (see the 10x sweep's dedup_embedding expectations).
SQL_DEDUP_EMBEDDING = """
WITH expanded AS (
  SELECT x.label, x.vec_id AS a, y.vec_id AS b,
         unnest(x.embedding)::DOUBLE AS va,
         unnest(y.embedding)::DOUBLE AS vb
  FROM embeddings x JOIN embeddings y ON x.label = y.label AND x.vec_id < y.vec_id
), dots AS (
  SELECT label, a, b, sum(va*vb) AS dot, sqrt(sum(va*va)) AS na, sqrt(sum(vb*vb)) AS nb
  FROM expanded GROUP BY label, a, b
)
SELECT label, a, b, round(dot / (na * nb), 6) AS cos_sim
FROM dots WHERE round(dot / (na * nb), 6) >= 0.2
"""


# --- END-TO-END embedding near-dup dedup: the vector twin of
# dedup_near_corpus (LSH bucket pairs verified by exact cosine +
# giant-bucket star edges -> connected components -> keep-one).
# max_bucket=8 / min_cos=0.2 at sf0.01 keeps BOTH edge paths live in
# the driver check (180 cosine-verified pair edges AND ~56 over-cap
# buckets contributing star edges); production defaults are 1000/0.9.
def q_near_dedup_vectors(spark, sf_dir):
    from neuroner_spark.operators.similarity import near_dedup_vectors

    return near_dedup_vectors(
        _emb(spark, sf_dir), n_planes=8, dim=64, n_tables=4, min_cos=0.2, max_bucket=8
    )


def _near_vectors_sql(max_bucket: int = 8, min_cos: float = 0.2) -> str:
    # min-label propagation over the symmetric edge set, exactly like
    # _near_corpus_sql: labels only travel toward LARGER node ids (the
    # component min is below every member, so it still reaches all).
    return f"""
WITH RECURSIVE expanded AS (
  SELECT vec_id, t.tbl, p.plane,
         unnest(embedding)::DOUBLE AS a,
         unnest(list_transform(range(0, 64),
            j -> (((t.tbl * 8 + p.plane) * 64 + j) * 2654435761 % 1000) / 500.0 - 1.0)) AS h
  FROM embeddings, (SELECT unnest(range(0, 8)) AS plane) p, (SELECT unnest(range(0, 4)) AS tbl) t
), dots AS (
  SELECT vec_id, tbl, plane, sum(a * h) AS dot FROM expanded GROUP BY 1, 2, 3
), sig AS (
  SELECT vec_id, tbl,
         CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS BIGINT) AS sig
  FROM dots GROUP BY 1, 2
), sizes AS (
  SELECT tbl, sig, count(*) AS n_docs, min(vec_id) AS keep_id FROM sig GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM sig x JOIN sig y ON x.tbl = y.tbl AND x.sig = y.sig AND x.vec_id < y.vec_id
  JOIN sizes s ON s.tbl = x.tbl AND s.sig = x.sig
  WHERE s.n_docs <= {max_bucket}
), pexp AS (
  SELECT c.a, c.b, unnest(ea.embedding)::DOUBLE AS va, unnest(eb.embedding)::DOUBLE AS vb
  FROM cand c JOIN embeddings ea ON ea.vec_id = c.a JOIN embeddings eb ON eb.vec_id = c.b
), pair_edges AS (
  SELECT a AS src, b AS dst FROM (
    SELECT a, b, round(sum(va*vb)/(sqrt(sum(va*va))*sqrt(sum(vb*vb))), 6) AS cs
    FROM pexp GROUP BY a, b
  ) WHERE cs >= {min_cos}
), giant_edges AS (
  SELECT DISTINCT g.vec_id AS src, s.keep_id AS dst
  FROM sig g JOIN sizes s ON s.tbl = g.tbl AND s.sig = g.sig
  WHERE s.n_docs > {max_bucket} AND g.vec_id <> s.keep_id
), sym AS (
  SELECT src AS a, dst AS b FROM (SELECT * FROM pair_edges UNION SELECT * FROM giant_edges)
  UNION
  SELECT dst, src FROM (SELECT * FROM pair_edges UNION SELECT * FROM giant_edges)
), reach AS (
  SELECT vec_id AS node, vec_id AS lab FROM embeddings
  UNION
  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node WHERE r.lab < s.b
)
SELECT node AS vec_id, min(lab) AS component, (min(lab) = node) AS keep
FROM reach GROUP BY node
"""


# --- winnowing fingerprints (Schleimer et al. 2003 / MOSS): k-gram
# rolling hashes, windowed-min selection.  The DuckDB twin expresses
# the same selection as a trailing ROWS window min (full windows only)
# plus the short-doc global-min fallback.
def q_winnowing(spark, sf_dir):
    from neuroner_spark.operators.dedup import winnowing_fingerprints

    # k=5/w=4 here, NOT the corpus_pipeline default k=25/w=4 (r5
    # verdict "what's wrong" #3): the sf0.01 fixture docs are short
    # enough that a large k leaves many below the k+w-1 minimum and the
    # oracle would mostly exercise the short-doc fallback; small k
    # keeps the windowed-min selection itself under oracle check.
    # The k=25 default is exercised by the pipeline tests and the
    # measured k-sweep (BENCH/BASELINE.md).
    return winnowing_fingerprints(_docs(spark, sf_dir), k=5, w=4)


SQL_WINNOWING = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents
), kg AS (
  SELECT doc_id, i,
         CAST(('0x' || substring(md5(substring(t, CAST(i AS INTEGER), 5)), 1, 15)) AS BIGINT) AS kh
  FROM (
    SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS i
    FROM norm WHERE length(t) >= 5
  )
), counts AS (
  SELECT doc_id, count(*) AS n FROM kg GROUP BY 1
), winmin AS (
  SELECT g.doc_id,
         min(kh) OVER (PARTITION BY g.doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
         row_number() OVER (PARTITION BY g.doc_id ORDER BY i) AS rn
  FROM kg g JOIN counts c ON g.doc_id = c.doc_id AND c.n >= 4
)
SELECT doc_id, fp FROM (
  SELECT DISTINCT doc_id, fp FROM winmin WHERE rn >= 4
  UNION
  SELECT g.doc_id, min(kh) AS fp
  FROM kg g JOIN counts c ON g.doc_id = c.doc_id AND c.n < 4
  GROUP BY g.doc_id
)
"""


QUERIES = {
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "near_dedup_vectors": (q_near_dedup_vectors, _near_vectors_sql(8, 0.2)),
    "winnowing_fingerprints": (q_winnowing, SQL_WINNOWING),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_jaccard": (q_dedup_jaccard, SQL_DEDUP_JACCARD),
    "dedup_contamination": (q_dedup_contamination, SQL_DEDUP_CONTAMINATION),
    "dedup_near_corpus": (q_dedup_near_corpus, _near_corpus_sql(2)),
    "dup_spans": (q_dup_spans, SQL_DUP_SPANS),
    "minhash_signatures": (q_minhash_signatures, _minhash_sql()),
    "simhash": (q_simhash, SQL_SIMHASH),
    
    "knn_join": (q_knn_join, SQL_KNN_JOIN),
    "lsh_signatures": (q_lsh_signatures, SQL_LSH_SIGNATURES),
}


# --- Gopher-style repetition filters (LLM-data quality gate)
def q_gopher_repetition(spark, sf_dir):
    from neuroner_spark.functions.text_analysis import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


SQL_GOPHER_REPETITION = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, pos, w FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
    FROM documents)
), wc AS (
  SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2
), wstat AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS max_word
  FROM wc GROUP BY doc_id
), bg AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM toks
), bc AS (
  SELECT doc_id, b, count(*) AS c FROM bg WHERE b IS NOT NULL GROUP BY 1, 2
), bstat AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS max_bigram
  FROM bc GROUP BY doc_id
)
SELECT w.doc_id, n_words,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
       round(CAST(max_word AS DOUBLE) / n_words, 6) AS top_word_frac,
       round(CAST(max_bigram AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
       (CAST(max_word AS DOUBLE) / n_words > 0.2
        OR coalesce(CAST(max_bigram AS DOUBLE) / n_bigrams, 0.0) > 0.18) AS flagged
FROM wstat w LEFT JOIN bstat b ON w.doc_id = b.doc_id
"""

QUERIES["gopher_repetition"] = (q_gopher_repetition, SQL_GOPHER_REPETITION)


# --- PII redaction (C4/Dolma-style anonymization gate; r6).  PII is
# PLANTED deterministically from doc_id (the synthetic corpus has
# none), with identical concat expressions on both sides, so the
# oracle checks the REGEX ENGINES byte-for-byte: md5 of the redacted
# text must agree between Spark's java.util.regex and DuckDB's RE2.
# Email always; phone on even doc_ids; IPv4 on doc_id % 3 == 0.
# Pure column exprs — one scan, zero shuffle, codegen'd.
def q_pii_redaction(spark, sf_dir):
    from neuroner_spark.functions.pii import pii_counts, redact_pii

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact"),
            (did % 997).cast("string"),
            F.lit("@example.com"),
            F.when(
                did % 2 == 0,
                F.concat(
                    F.lit(" tel ("),
                    (did % 900 + 100).cast("string"),
                    F.lit(") 555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" host 10."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    ((did * 7) % 256).cast("string"),
                    F.lit("."),
                    ((did * 13) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = redact_pii(F.col("text"))
    return planted.select(
        "doc_id",
        *pii_counts(F.col("text")),
        F.md5(red).alias("clean_md5"),
        F.length(red).cast("long").alias("clean_len"),
    )


def _sql_pii_redaction() -> str:
    from neuroner_spark.functions.pii import pii_sql_exprs

    e = pii_sql_exprs("text")
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact' || CAST(doc_id % 997 AS VARCHAR) || '@example.com'
           || CASE WHEN doc_id % 2 = 0
                   THEN ' tel (' || CAST(doc_id % 900 + 100 AS VARCHAR) || ') 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                        || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                        || CAST((doc_id * 13) % 256 AS VARCHAR)
                   ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       {e['n_email']} AS n_email,
       {e['n_ip']} AS n_ip,
       {e['n_phone']} AS n_phone,
       md5({e['redacted']}) AS clean_md5,
       CAST(length({e['redacted']}) AS BIGINT) AS clean_len
FROM planted
"""


SQL_PII_REDACTION = _sql_pii_redaction()

QUERIES["pii_redaction"] = (q_pii_redaction, SQL_PII_REDACTION)


# --- Corpus-trained bigram-LM perplexity (the CCNet/FineWeb quality
# gate; r6).  The LM is trained ON THE SAME corpus inside the query —
# two groupBy count tables + two equi-joins, no model file, no UDF —
# so the whole thing is one SQL program the oracle can replay.  Both
# sides compute -ln(p)/ln(2) (NOT log2()) so the engines run the same
# libm call sequence; scores round to 4 decimals before the hash and
# ppl derives from the ROUNDED bits, putting the ulp-level libm /
# summation-order noise ~10 orders of magnitude below the comparison
# precision.  Full vocab here (500 docs at sf0.01); the web-scale
# ``vocab_limit`` top-K knob is exercised by tests/test_quality_lm.py
# against an independent Python reference.
def q_lm_perplexity(spark, sf_dir):
    from neuroner_spark.operators.quality_lm import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir), alpha=0.5)


SQL_LM_PERPLEXITY = """
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                       generate_subscripts(string_split(text, ' '), 1) AS pos) t
),
pairs AS (
  SELECT a.doc_id, a.tok AS prev, b.tok AS tok
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS V FROM toks),
hist AS (SELECT prev, COUNT(*) AS ch FROM pairs GROUP BY prev),
big  AS (SELECT prev, tok, COUNT(*) AS cb FROM pairs GROUP BY prev, tok),
per AS (
  SELECT p.doc_id, COUNT(*) AS nb,
         ROUND(AVG(-ln((cb + 0.5) / (ch + 0.5 * V)) / ln(2.0)), 4) AS bits
  FROM pairs p
  JOIN big  USING (prev, tok)
  JOIN hist USING (prev)
  CROSS JOIN v
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       COALESCE(nb, 0) AS n_bigrams,
       bits AS avg_nll_bits,
       ROUND(POW(2.0, bits), 2) AS ppl
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per USING (doc_id)
"""

QUERIES["lm_perplexity"] = (q_lm_perplexity, SQL_LM_PERPLEXITY)
