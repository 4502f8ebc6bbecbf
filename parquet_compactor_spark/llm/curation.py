"""Corpus-curation operators: the gatekeeping stages of an LLM data pipeline.

Benchmark-contamination detection, PII scrubbing, context-window sequence
packing, domain-mixture rebalancing, and cross-snapshot incremental dedup.
Like the rest of the llm package these are north-star operators (the
reference engine, /root/reference/parquet-compactor/parquet_compactor.py,
stops at file compaction); every plan here is JVM-side column expressions
with one or two keyed shuffles — nothing collects row data to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_compactor_spark.llm.extract import extract
from parquet_compactor_spark.registry import load, register

#: Context-window budget (whitespace tokens) for sequence packing.
PACK_BUDGET = 256

#: Knuth multiplicative hash — deterministic, engine-portable membership
#: (exact bigint math in both Spark and DuckDB; see q_stratified_sample).
_KNUTH_MOD = 4294967296


def knuth_hash(col: Column, mod: int = 1000000) -> Column:
    return F.pmod(F.pmod(col * F.lit(2654435761), F.lit(_KNUTH_MOD)), F.lit(mod))


def word_shingles(words: Column, n: int = 5) -> Column:
    """n-word shingles of a pre-split token array, as a JVM higher-order
    expression (no Python in the hot path). Empty when the doc is shorter
    than ``n`` (sequence(1,0) would yield [1,0] — guarded by the when).

    ``words`` is BOUND to a lambda variable via a single-element outer
    transform: callers pass derived expressions (``split(text)``,
    ``whitespace_tokens(text)``), and referencing a derived array
    inside the shingle lambda re-evaluates it per position — the
    no-CSE-in-lambdas O(words^2) trap (see the dedup twin's docstring
    for the round-13 measurements). A caller passing an already-bound
    attribute pays only a one-element wrap."""
    bound = F.transform(
        F.array(words),
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.array_join(F.slice(w, i, F.lit(n)), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.element_at(bound, 1)


@register(
    "q_contamination",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
        SELECT doc_id, source, array_to_string(w[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)
    ),
    bench AS (
        SELECT DISTINCT shingle FROM shingles
        WHERE (doc_id * 2654435761) % 4294967296 % 97 = 0
    ),
    corpus AS (
        SELECT doc_id, source, shingle FROM shingles
        WHERE (doc_id * 2654435761) % 4294967296 % 97 <> 0
    ),
    per_doc AS (
        SELECT c.doc_id, c.source,
               COUNT(*) AS n_shingles,
               COUNT(b.shingle) AS n_hit
        FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id, c.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           ROUND(AVG(CAST(n_hit AS DOUBLE) / n_shingles), 4)
               AS avg_hit_rate
    FROM per_doc
    GROUP BY source
    """,
    doc="Benchmark-contamination detection: 3-word shingles of a held-out "
    "benchmark split (deterministic ~1% Knuth-hash membership) are "
    "LEFT-joined against corpus shingles; a doc sharing any shingle with "
    "the benchmark is flagged. The benchmark shingle set is tiny and "
    "broadcast — the corpus side never shuffles for the probe, so the "
    "plan is one broadcast hash join plus two aggregations regardless of "
    "corpus size. This is the standard n-gram-overlap decontamination "
    "pass run before LLM training.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.split("text", " ", -1).alias("w")
    )
    shingles = words.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("w"), 3)).alias("shingle"),
    )
    is_bench = knuth_hash(F.col("doc_id"), mod=97) == 0
    bench = shingles.filter(is_bench).select("shingle").distinct()
    corpus = shingles.filter(~is_bench)
    per_doc = (
        corpus.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_hit"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_hit") > 0).cast("bigint")).alias("n_contaminated"),
        F.round(
            F.avg(F.col("n_hit").cast("double") / F.col("n_shingles")), 4
        ).alias("avg_hit_rate"),
    )


EVAL_W = 8  # contamination window width (GPT-3 used 13-gram collisions)
EVAL_SHARD_MOD, EVAL_SHARD_REM = 23, 7  # held-out eval shard: ~4% of docs


@register(
    "q_eval_contamination",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    wins AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(i AS BIGINT) AS pos,
               md5(array_to_string(w[i : i + {EVAL_W - 1}], ' ')) AS h
        FROM words, UNNEST(range(1, len(w) - {EVAL_W - 2})) AS t(i)
    ),
    eval_wins AS (
        SELECT DISTINCT h FROM wins
        WHERE doc_id % {EVAL_SHARD_MOD} = {EVAL_SHARD_REM}
    ),
    train AS (
        SELECT w.doc_id, w.n_tokens, w.pos, e.h IS NOT NULL AS hit
        FROM wins w LEFT JOIN eval_wins e ON w.h = e.h
        WHERE w.doc_id % {EVAL_SHARD_MOD} <> {EVAL_SHARD_REM}
    ),
    per_doc AS (
        SELECT doc_id, MAX(n_tokens) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hit_windows
        FROM train GROUP BY doc_id
    ),
    hits AS (
        SELECT doc_id, pos,
               LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM train WHERE hit
    ),
    cov AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN nxt IS NULL OR nxt - pos >= {EVAL_W}
                             THEN {EVAL_W} ELSE nxt - pos END)
                    AS BIGINT) AS overlap_tokens
        FROM hits GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens, p.n_windows, p.n_hit_windows,
           CAST(COALESCE(c.overlap_tokens, 0) AS BIGINT) AS overlap_tokens,
           FLOOR(CAST(COALESCE(c.overlap_tokens, 0) AS DOUBLE)
                 / CAST(p.n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
               AS overlap_frac,
           p.n_hit_windows > 0 AS contaminated
    FROM per_doc p LEFT JOIN cov c USING (doc_id)
    """,
    doc="Train-on-test contamination at sliding n-gram resolution — the "
    "decision-grade sibling of q_contamination (which scores SOURCES "
    "by 3-shingle hit rates): every width-8 sliding token window of a "
    "TRAINING document is checked for exact collision with any window "
    "of the held-out EVAL shard (doc_id % 23 == 7 — a deterministic "
    "stand-in for the benchmark suite), and each train doc gets its "
    "per-doc verdict: hit-window count, MERGED-interval count of "
    "tokens inside eval-colliding spans, the 4dp overlap fraction, "
    "and the boolean a curation pipeline actually filters on (the "
    "GPT-3 appendix-C discipline: drop or flag any training doc "
    "sharing a >= 13-gram with an eval set; W=8 matches this "
    "fixture's document lengths). Reuses the q_substring_dedup "
    "machinery (sliding_md5_windows + merged_interval_coverage): "
    "window texts never leave the map side — only 32-byte md5 keys "
    "shuffle; the eval side prunes to ~1/23 of the corpus BELOW the "
    "explode (doc_id predicate pushes past the generator), dedups to "
    "DISTINCT hashes, and joins behind the measured broadcast guard "
    "(an eval suite is MBs — at 100 TB the probe is a broadcast hash "
    "join, never a corpus-x-corpus shuffle); ONE doc_id rollup folds "
    "counts and interval coverage in the same pass. Docs under 8 "
    "tokens have no window and drop out (inner semantics, both "
    "engines).",
)
def q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.dedup import (
        merged_interval_coverage,
        sliding_md5_windows,
    )
    from parquet_compactor_spark.llm.text import (
        broadcast_if_bounded,
        spread_scan,
        whitespace_tokens,
    )

    # one md5 window per token: compute-dense map, spread it.
    d = spread_scan(load(spark, sf_dir, "documents"))
    words = whitespace_tokens(F.col("text"))
    wins = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.explode(sliding_md5_windows(words, EVAL_W)).alias("s"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("s.pos").alias("pos"),
        F.col("s.h").alias("h"),
    )
    is_eval = F.col("doc_id") % EVAL_SHARD_MOD == EVAL_SHARD_REM
    eval_wins = (
        wins.filter(is_eval).select("h").distinct().withColumn("hit", F.lit(1))
    )
    train = wins.filter(~is_eval).join(
        broadcast_if_bounded(eval_wins), "h", "left"
    )
    hit = F.col("hit").isNotNull()
    per_doc = train.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum(hit.cast("int")).cast("bigint").alias("n_hit_windows"),
        F.sort_array(F.collect_list(F.when(hit, F.col("pos")))).alias("hpos"),
    )
    overlap = merged_interval_coverage(F.col("hpos"), EVAL_W)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        "n_hit_windows",
        overlap.alias("overlap_tokens"),
        (
            F.floor(
                overlap.cast("double")
                / F.col("n_tokens").cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("overlap_frac"),
        (F.col("n_hit_windows") > 0).alias("contaminated"),
    )


# Secret-shaped token detectors — same regex dialect in Java (Spark)
# and RE2 (DuckDB): no lookaround, no backreferences. \b is supported
# by both; the seeds below are framed by spaces so the boundary always
# lands between a space and a hex/base64 char (never after '_', which
# is a word char and would swallow the boundary).
_HEX_SECRET_RE = r"\b[0-9a-f]{32,}\b"  # hex credential (md5/sha/API hex)
_AWS_KEY_RE = r"AKIA[0-9A-Z]{16}"  # AWS access-key-id shape
_LONGTOK_RE = r"\b[A-Za-z0-9+/=]{24,}\b"  # long base64-ish token


@register(
    "q_secret_scan",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' key ' || md5(CAST(doc_id AS VARCHAR)) || ' ok'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' id AKIA' || upper(substr(
                            md5('a' || CAST(doc_id AS VARCHAR)), 1, 16))
                            || ' end'
                       ELSE '' END AS raw
        FROM documents
    ),
    hits AS (
        SELECT source,
               COALESCE(len(regexp_extract_all(raw, '{_HEX_SECRET_RE}')), 0)
                   AS hex_hits,
               COALESCE(len(regexp_extract_all(raw, '{_AWS_KEY_RE}')), 0)
                   AS aws_hits,
               COALESCE(len(regexp_extract_all(raw, '{_LONGTOK_RE}')), 0)
                   AS longtok_hits
        FROM seeded
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(hex_hits) AS BIGINT) AS hex_hits,
           CAST(SUM(aws_hits) AS BIGINT) AS aws_hits,
           CAST(SUM(longtok_hits) AS BIGINT) AS longtok_hits,
           CAST(SUM(CASE WHEN hex_hits + aws_hits + longtok_hits > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_secret,
           CAST((CAST(SUM(CASE WHEN hex_hits + aws_hits + longtok_hits > 0
                              THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS secret_ppm
    FROM hits GROUP BY source
    """,
    doc="Credential / secret-shaped token scan per source — the "
    "detect-secrets pass every code/crawl corpus runs before release "
    "(StarCoder and Dolma both strip key-shaped strings alongside "
    "PII; this is q_pii_scrub's security sibling). Detectors: 32+ "
    "lowercase-hex runs (API/sha-style hex credentials), the AWS "
    "access-key-id shape AKIA[0-9A-Z]{16}, and 24+ char base64-ish "
    "tokens (the high-entropy-string proxy; hex hits are a subset of "
    "this class by construction — counts overlap deliberately, each "
    "detector is a distinct audit line). Because the synthetic corpus "
    "contains no real secrets, deterministic ones are SEEDED exactly "
    "like q_pii_scrub's emails: docs with doc_id % 7 == 0 carry an "
    "md5-hex credential, % 11 == 0 an AKIA key derived from the same "
    "engine-identical md5 — membership is known by construction, so "
    "the oracle checks the detectors, not luck. NULL text seeds to "
    "NULL and scans to zero hits on both engines (COALESCE). Plan: "
    "map-only regex counts + ONE source-keyed hash aggregate — "
    "scan-shaped at any corpus size; the ppm headline is exact "
    "bigint div.",
)
def q_secret_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" key "),
                F.md5(F.col("doc_id").cast("string")),
                F.lit(" ok"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" id AKIA"),
                F.upper(
                    F.substring(
                        F.md5(F.concat(F.lit("a"), F.col("doc_id").cast("string"))),
                        1,
                        16,
                    )
                ),
                F.lit(" end"),
            ),
        ).otherwise(F.lit("")),
    )

    def nhits(rex: str) -> Column:
        return F.coalesce(
            F.size(F.regexp_extract_all(F.col("raw"), F.lit(rex), F.lit(0))),
            F.lit(0),
        )

    hits = d.select("source", raw.alias("raw")).select(
        "source",
        nhits(_HEX_SECRET_RE).alias("hex_hits"),
        nhits(_AWS_KEY_RE).alias("aws_hits"),
        nhits(_LONGTOK_RE).alias("longtok_hits"),
    )
    any_hit = (
        F.col("hex_hits") + F.col("aws_hits") + F.col("longtok_hits") > 0
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("hex_hits").cast("bigint").alias("hex_hits"),
            F.sum("aws_hits").cast("bigint").alias("aws_hits"),
            F.sum("longtok_hits").cast("bigint").alias("longtok_hits"),
            F.sum(any_hit.cast("int")).cast("bigint").alias(
                "docs_with_secret"
            ),
        )
        .select(
            "source",
            "n_docs",
            "hex_hits",
            "aws_hits",
            "longtok_hits",
            "docs_with_secret",
            F.expr(
                "CAST((docs_with_secret * 1000000) div n_docs AS BIGINT)"
            ).alias("secret_ppm"),
        )
    )


_EMAIL_RE = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS raw
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, source,
               len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]',
                                             'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g') AS clean
        FROM seeded
    )
    SELECT source,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(clean)) AS BIGINT) AS clean_chars,
           CAST(SUM(CASE WHEN clean LIKE '%[EMAIL]%' THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_email
    FROM scrubbed
    GROUP BY source
    """,
    doc="PII scrubbing: e-mail and phone patterns redacted with "
    "regexp_replace (replace-all), redaction counts audited per source. "
    "The fixture text contains no organic PII, so each doc is seeded "
    "with a deterministic synthetic address+number first — the seeding "
    "is part of the test harness, the scrub expressions are the "
    "operator. Pure per-row JVM regex (no UDF) + one agg shuffle; the "
    "regexes avoid lookaround so Java and RE2 agree.",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = d.select("doc_id", "source", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace("raw", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    scrubbed = seeded.select(
        "source",
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        clean.alias("clean"),
    )
    return scrubbed.groupBy("source").agg(
        F.sum("n_emails").cast("bigint").alias("emails_redacted"),
        F.sum("n_phones").cast("bigint").alias("phones_redacted"),
        F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
        F.sum(F.col("clean").contains("[EMAIL]").cast("int"))
        .cast("bigint")
        .alias("docs_with_email"),
    )


@register(
    "q_seq_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT lang, n_tok,
               (SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tok)
                   // {PACK_BUDGET} AS window_id
        FROM toks
    )
    SELECT lang,
           COUNT(DISTINCT window_id) AS n_windows,
           CAST(MAX(cnt) AS BIGINT) AS max_docs_per_window,
           ROUND(AVG(CAST(fill AS DOUBLE)) / {PACK_BUDGET}, 4) AS avg_fill
    FROM (
        SELECT lang, window_id, COUNT(*) AS cnt, SUM(n_tok) AS fill
        FROM packed GROUP BY lang, window_id
    )
    GROUP BY lang
    """,
    doc="Sequence packing for training: documents are concatenated in "
    "doc_id order per language and chunked into fixed token-budget "
    "context windows (window_id = starting-offset div budget — the "
    "concatenate-then-chunk packing used for LLM pretraining batches, "
    "where a document may straddle two windows). One running-sum window "
    "per lang + one agg; at scale the partition key becomes (lang, "
    "shard) so no single language serializes — packing is only ever "
    "needed within a shard, not globally.",
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ", -1)).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = toks.select(
        "lang",
        "n_tok",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(PACK_BUDGET))
        .cast("bigint")
        .alias("window_id"),
    )
    per_window = packed.groupBy("lang", "window_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("fill")
    )
    return per_window.groupBy("lang").agg(
        F.countDistinct("window_id").alias("n_windows"),
        F.max("cnt").cast("bigint").alias("max_docs_per_window"),
        F.round(F.avg(F.col("fill").cast("double")) / PACK_BUDGET, 4).alias(
            "avg_fill"
        ),
    )


@register(
    "q_domain_mix",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ),
    floor_cnt AS (SELECT MIN(cnt) AS min_cnt FROM counts),
    rated AS (
        SELECT c.source, c.cnt,
               (f.min_cnt * 1000000) // c.cnt AS keep_ppm
        FROM counts c CROSS JOIN floor_cnt f
    )
    SELECT d.source,
           MAX(r.cnt) AS n_total,
           CAST(SUM(CASE WHEN (d.doc_id * 2654435761) % 4294967296
                              % 1000000 < r.keep_ppm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           MAX(r.keep_ppm) AS keep_ppm
    FROM documents d JOIN rated r ON d.source = r.source
    GROUP BY d.source
    """,
    doc="Domain-mixture rebalancing: downsample every source to the "
    "smallest source's volume (uniform target mixture). Per-source keep "
    "rates are exact integer parts-per-million (bigint div — no float "
    "rounding divergence across engines) and membership is the Knuth "
    "hash of doc_id, so the sample is reproducible on any cluster size. "
    "The rate table is per-source scalars — broadcast — so the corpus "
    "scan never shuffles for the join; one agg shuffle total.",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    floor_cnt = counts.agg(F.min("cnt").alias("min_cnt"))
    rated = counts.crossJoin(F.broadcast(floor_cnt)).select(
        "source",
        "cnt",
        F.expr("(min_cnt * 1000000) div cnt").alias("keep_ppm"),
    )
    kept = (knuth_hash(F.col("doc_id")) < F.col("keep_ppm")).cast("bigint")
    return (
        d.join(F.broadcast(rated), "source")
        .groupBy("source")
        .agg(
            F.max("cnt").alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.max("keep_ppm").alias("keep_ppm"),
        )
    )


@register(
    "q_snapshot_delta",
    oracle="""
    WITH old_snap AS (
        SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            AS fp
        FROM documents WHERE doc_id % 3 <> 0
    ),
    new_batch AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_new,
           MIN(doc_id) AS first_new
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM old_snap o WHERE o.fp = n.fp)
    GROUP BY lang
    """,
    doc="Cross-snapshot incremental dedup: a new crawl batch is "
    "anti-joined by normalized-text fingerprint against the previous "
    "snapshot's fingerprint set, keeping only net-new documents — the "
    "daily-ingest pattern for a continuously-crawled corpus. The "
    "fingerprint set is one narrow md5 column, so at 100 TB the "
    "anti-join shuffles 16-byte keys, not documents; Spark's runtime "
    "bloom-filter pruning (spark.sql.optimizer.runtime.bloomFilter) "
    "drops most probe rows before the exchange.",
)
def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    ).alias("fp")
    old_snap = d.filter(F.col("doc_id") % 3 != 0).select(fp).distinct()
    new_batch = d.select("doc_id", "lang", fp)
    return (
        new_batch.join(old_snap, "fp", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.min("doc_id").alias("first_new"),
        )
    )


@register(
    "q_data_split",
    oracle="""
    WITH tagged AS (
        SELECT lang, n_chars,
               CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
                        THEN 'train'
                    WHEN (doc_id * 2654435761) % 4294967296 % 100 < 95
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged
    GROUP BY lang, split
    """,
    doc="Deterministic 90/5/5 train/val/test split: membership is the "
    "Knuth hash of doc_id bucketed into percent bands, so the split is "
    "stable across runs, engines, cluster sizes, AND later corpus "
    "growth (a doc never migrates between splits when new docs arrive "
    "— the property rand()-based splitting lacks, and the reason "
    "training pipelines hash-split). Zero shuffles before the "
    "audit rollup.",
)
def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pct = knuth_hash(F.col("doc_id"), mod=100)
    split = (
        F.when(pct < 90, "train").when(pct < 95, "val").otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "q_gopher_rules",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mwl,
               len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))
                 AS stop_hits,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> regexp_matches(w, '[a-zA-Z]')))
                    AS DOUBLE)
                 / len(string_split(text, ' ')) AS alpha_ratio
        FROM documents
    )
    SELECT doc_id,
           n_words,
           ROUND(mwl, 4) AS mean_word_len,
           CASE WHEN n_words BETWEEN 40 AND 1000 THEN 1 ELSE 0 END
             AS ok_word_count,
           CASE WHEN mwl >= 3.5 AND mwl <= 10.0 THEN 1 ELSE 0 END
             AS ok_word_len,
           CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS ok_stopwords,
           CASE WHEN alpha_ratio > 0.8 THEN 1 ELSE 0 END AS ok_alpha,
           CASE WHEN n_words BETWEEN 40 AND 1000
                 AND mwl >= 3.5 AND mwl <= 10.0
                 AND stop_hits >= 2
                 AND alpha_ratio > 0.8 THEN 1 ELSE 0 END AS keep_flag
    FROM scored
    """,
    doc="Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, "
    "public paper): each document is scored against explicit repair-"
    "proof rules — word-count bounds, mean-word-length bounds, minimum "
    "stopword evidence, alphabetic-word ratio — emitted as separate "
    "boolean columns plus the conjunctive keep flag, so downstream "
    "curation can audit WHICH rule dropped a document (the difference "
    "from q_quality_score's single opaque score). All rules are "
    "JVM-side string expressions over one scan: at 100 TB this is a "
    "map-only pass with zero shuffles; the per-rule booleans make the "
    "filter's selectivity observable per rule via one follow-up "
    "aggregation. Mean word length divides two exact integers, so the "
    "4dp rounding is engine-stable.",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    n_words = F.size(words)
    mwl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_words
    stop_hits = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\b(the|a|and|of|to|in|is|it)\b"))
    )
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / n_words
    )
    ok_word_count = n_words.between(40, 1000)
    ok_word_len = (mwl >= 3.5) & (mwl <= 10.0)
    ok_stopwords = stop_hits >= 2
    ok_alpha = alpha_ratio > 0.8
    keep = ok_word_count & ok_word_len & ok_stopwords & ok_alpha
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        as_int(ok_word_count).alias("ok_word_count"),
        as_int(ok_word_len).alias("ok_word_len"),
        as_int(ok_stopwords).alias("ok_stopwords"),
        as_int(ok_alpha).alias("ok_alpha"),
        as_int(keep).alias("keep_flag"),
    )


@register(
    "q_winsorize",
    oracle="""
    WITH nn AS (
        -- observed (non-null) values only, pinned on BOTH sides: the
        -- engines' default NULL sort placement differs (Spark ASC is
        -- NULLS FIRST, DuckDB NULLS LAST), so an implicit scope would
        -- shift the k-th order statistics on a NULL-bearing fixture.
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    params AS (
        SELECT count(*) AS n_total, count(*) // 20 AS k FROM nn
    ),
    ranked AS (
        SELECT value, row_number() OVER (ORDER BY value) AS r FROM nn
    ),
    bounds AS (
        SELECT max(CASE WHEN r <= (SELECT k FROM params)
                        THEN value END) AS lo,
               min(CASE WHEN r >= (SELECT n_total - k + 1 FROM params)
                        THEN value END) AS hi
        FROM ranked
    )
    SELECT e.event_type,
           count(*) AS n,
           ROUND(CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 4) AS mean_raw,
           ROUND(CAST(sum(CAST(LEAST(GREATEST(e.value, b.lo), b.hi)
                              AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 4) AS mean_winsorized,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM nn e CROSS JOIN bounds b
    GROUP BY e.event_type
    """,
    doc="Winsorization (tail clipping) — the outlier-taming step a "
    "feature pipeline runs before normalizing a heavy-tailed measure "
    "for training: values are clamped to the global [k-th smallest, "
    "k-th largest] band (k = n//20, i.e. the exact 5%/95% ORDER "
    "STATISTICS, not interpolated percentiles) and the per-type mean "
    "is reported before/after along with the clip count. Rank-based "
    "bounds are integer-indexed and engine-identical by construction "
    "— round-5 driver evidence showed interpolated percentile() vs "
    "quantile_cont() can land 1 ulp apart, flipping the strict "
    "n_clipped comparisons. Means accumulate in DECIMAL(18,4) (the "
    "values are 2dp) so partial-aggregation order can never wobble "
    "the 4dp rounding. Plan shape: the k-th order statistics come "
    "from TakeOrderedAndProject (bounded map-side heaps of size k, "
    "never a global sort/window), broadcast as ONE tiny row back "
    "onto the fact scan, then one hash-agg per type. At 100 TB the "
    "exact bound pass would swap for approx_percentile (documented "
    "sketch trade as q_percentiles -> q_approx_stats); the clamp and "
    "aggregation are unchanged.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Observed values only — matches the oracle's nn scope (see note).
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # Exact order statistics via bounded top-k (TakeOrderedAndProject),
    # k is a scalar collected driver-side (model-state sized).
    k = e.count() // 20
    lo = e.select("value").orderBy(F.col("value").asc()).limit(k).agg(
        F.max("value").alias("lo")
    )
    hi = e.select("value").orderBy(F.col("value").desc()).limit(k).agg(
        F.min("value").alias("hi")
    )
    bounds = lo.crossJoin(hi)
    dec = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    n = F.count(F.lit(1))
    return (
        e.join(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            n.alias("n"),
            F.round(F.sum(dec(F.col("value"))).cast("double") / n, 4).alias("mean_raw"),
            F.round(F.sum(dec(clipped)).cast("double") / n, 4).alias("mean_winsorized"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).alias("n_clipped"),
        )
    )



@register(
    "q_dsir_weights",
    oracle="""
    WITH terms AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    freq AS (
        SELECT term,
               COUNT(*) AS c_all,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
        FROM terms GROUP BY term
    ),
    wfreq AS (
        -- integer-exact per-term micro-weight: 6dp floor-form round of
        -- the per-term log ratio. The per-doc SUM below is then exact
        -- BIGINT arithmetic — identical under ANY accumulation order /
        -- partitioning, unlike AVG over raw doubles.
        SELECT term, c_all, c_tgt,
               CAST(FLOOR((ln(c_tgt + 0.5) - ln(c_all + 0.5)) * 1000000
                          + 0.5) AS BIGINT) AS w_micro
        FROM freq
    ),
    stats AS (
        SELECT CAST(SUM(c_all) AS DOUBLE) AS n_all,
               CAST(SUM(c_tgt) AS DOUBLE) AS n_tgt,
               CAST(COUNT(*)  AS DOUBLE) AS v
        FROM wfreq
    ),
    perdoc AS (
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               SUM(f.w_micro) AS w_sum
        FROM terms t JOIN wfreq f USING (term)
        GROUP BY t.doc_id
    ),
    scored AS (
        -- floor-form 4dp round over ONE IEEE divide chain of identical
        -- operands: bit-identical to the Spark side.
        SELECT p.doc_id, p.n_tokens,
               FLOOR((CAST(p.w_sum AS DOUBLE) / 1000000.0
                          / CAST(p.n_tokens AS DOUBLE)
                      + ln(s.n_all + 0.5 * s.v)
                      - ln(s.n_tgt + 0.5 * s.v)) * 10000 + 0.5)
                   / 10000 AS logratio
        FROM perdoc p CROSS JOIN stats s
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY logratio DESC, doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, n_tokens, logratio,
           CAST(CASE WHEN rn <= (SELECT COUNT(*) // 5 FROM documents)
                     THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM ranked
    """,
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): per-document importance "
    "weight = mean log-likelihood ratio of its unigrams under the target "
    "domain's distribution (here lang='en') vs the raw corpus, with "
    "add-0.5 smoothing over the corpus vocabulary, then a deterministic "
    "top-20% selection (the rank-based stand-in for Gumbel-top-k "
    "resampling — same selection set in expectation, reproducible). "
    "Per-term weights are ROUNDED TO INTEGER MICRO-UNITS (6dp floor "
    "form) in the vocabulary table, so the per-doc score is an exact "
    "BIGINT sum + one IEEE divide — order-independent under any "
    "partitioning (AVG over raw doubles drifts with accumulation order "
    "between Spark partitionings and DuckDB's sequential scan; same "
    "class q_winsorize hit). Plan: ONE token explode feeds ONE "
    "vocabulary aggregation computing BOTH distributions (c_all + "
    "conditional c_tgt — no second corpus pass); corpus totals reduce "
    "over the guard's CACHED vocabulary to a 1-row broadcast; the "
    "frequency table joins back behind the measured vocabulary-"
    "broadcast guard (shuffle fallback above 2M terms — term space is "
    "open-ended at 100 TB); n_sel comes from a 1-row count of "
    "documents crossJoined in-plan (the whole query is ONE action plus "
    "the guard's cache-build count — no per-query driver collect). The "
    "top-20% cut is a row_number over the 4dp floor-rounded weight "
    "with doc_id tiebreak (engine-exact — never ranks a raw float), "
    "TWO-LEVEL since round 8: an approx_percentile(0.70) pre-filter "
    "(rank error ~1e-4 << the 0.10 margin) bounds the exact global "
    "window to the ~30% of docs that can possibly rank top-20%, so the "
    "one-task reducer holds a third of the corpus instead of all of "
    "it; non-survivors are selected=0 by construction and exactness "
    "is unchanged. At 100 TB the cut swaps for a pure threshold "
    "(no exact window at all); the scoring plan is unchanged. The paper's "
    "production form hashes features into 10k buckets instead of exact "
    "unigrams — same plan shape (the agg key becomes "
    "pmod(xxhash64(term), B)).",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        broadcast_if_bounded,
        persist_tracked,
        whitespace_tokens,
    )

    d = load(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", "lang", F.explode(whitespace_tokens(F.col("text"))).alias("term")
    )
    lr_term = F.log(F.col("c_tgt") + 0.5) - F.log(F.col("c_all") + 0.5)
    wfreq = broadcast_if_bounded(
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("c_all"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_tgt"),
        )
        .withColumn("w_micro", F.floor(lr_term * 1000000 + 0.5).cast("bigint"))
    )
    stats = wfreq.agg(
        F.sum("c_all").cast("double").alias("n_all"),
        F.sum("c_tgt").cast("double").alias("n_tgt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    n_sel = d.agg(F.floor(F.count(F.lit(1)) / 5).alias("n_sel"))
    perdoc = (
        terms.join(wfreq, "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("w_micro").alias("w_sum"))
    )
    const = F.log(F.col("n_all") + 0.5 * F.col("v")) - F.log(
        F.col("n_tgt") + 0.5 * F.col("v")
    )
    scored = perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "n_tokens",
        (
            F.floor(
                (
                    F.col("w_sum").cast("double")
                    / 1000000.0
                    / F.col("n_tokens").cast("double")
                    + const
                )
                * 10000
                + 0.5
            )
            / 10000
        ).alias("logratio"),
    )
    scored = persist_tracked(scored)

    # Two-level exact top-20% cut (round 8): the single-partition
    # row_number window previously funneled the ENTIRE scored corpus
    # through one task. scored is referenced by THREE branches below
    # (threshold agg, survivor window, non-survivor pass-through);
    # persist the narrow per-doc frame (3 columns, one row per doc) so
    # the corpus-scanning subtree runs once — without it each branch
    # re-traverses the whole explode+join+agg (pre-AQE plan showed 21
    # documents scans). Pre-filter on an approximate threshold first:
    # t = approx_percentile(logratio, 0.70) has rank error ~1/accuracy
    # (1e-4 at the default 10000), so every top-20% row (ascending rank
    # > 0.80) satisfies logratio >= t with a 0.10-rank margin — the
    # exact global window only ranks the ~30% of docs that survive, and
    # because every survivor outranks every non-survivor under the
    # (logratio DESC, doc_id) order, a survivor's rank among survivors
    # IS its global rank. Non-survivors are selected=0 by construction.
    # Exactness is unchanged (the oracle's full ROW_NUMBER agrees); the
    # one-task reducer now holds 30% of docs instead of 100% — and at
    # 100 TB the documented swap to a threshold-only cut still applies.
    thresh = scored.agg(
        F.expr("approx_percentile(logratio, 0.70)").alias("t_lo")
    )
    survivors = scored.crossJoin(F.broadcast(thresh)).filter(
        F.col("logratio") >= F.col("t_lo")
    )
    rn = F.row_number().over(Window.orderBy(F.desc("logratio"), F.asc("doc_id")))
    ranked = (
        survivors.withColumn("rn", rn)
        .crossJoin(F.broadcast(n_sel))
        .select(
            "doc_id",
            "n_tokens",
            "logratio",
            (F.col("rn") <= F.col("n_sel")).cast("bigint").alias("selected"),
        )
    )
    rest = (
        scored.crossJoin(F.broadcast(thresh))
        .filter(~(F.col("logratio") >= F.col("t_lo")))
        .select("doc_id", "n_tokens", "logratio", F.lit(0).cast("bigint").alias("selected"))
    )
    return ranked.unionByName(rest)


@register(
    "q_dup_ngram_coverage",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
        FROM words, UNNEST(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
    ),
    gram_docs AS (
        SELECT gram, COUNT(*) AS nd FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           FLOOR(CAST(SUM(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS dup_frac
    FROM grams g JOIN gram_docs gd USING (gram)
    GROUP BY g.doc_id
    """,
    doc="Cross-document duplicated n-gram coverage (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better'): for "
    "each document, the fraction of its distinct 5-word-grams that also "
    "appear in at least one OTHER document — the per-document "
    "memorization-risk score that drives substring-level dedup decisions "
    "(q_repetition_ratio is the INTRA-doc cousin; q_ngram_jaccard is "
    "pairwise — this is corpus-global per doc). Documents shorter than "
    "5 tokens drop out on both engines (the shingle guard yields an "
    "empty array; inner semantics). Plan: gram generation is a JVM "
    "higher-order transform (map-side, within-doc distinct BEFORE the "
    "explode so the doc-frequency count is a plain COUNT(*)); one "
    "partial-aggregated shuffle keyed on gram builds the doc-frequency "
    "table; it joins back behind the measured vocabulary-broadcast "
    "guard (gram space is open-ended at 100 TB -> shuffle join), then "
    "one per-doc rollup. Never forms document PAIRS — cost is O(total "
    "grams), not O(docs^2). dup_frac uses the floor-form 4dp round: "
    "exact integer ratios can land on representable x.xxxx5 boundaries "
    "(e.g. odd/32) where the engines' native round() disagree.",
)
def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        broadcast_if_bounded,
        spread_scan,
        whitespace_tokens,
    )

    from parquet_compactor_spark.llm.text import persist_tracked

    # 5-gram join + distinct per row: compute-dense map, spread it.
    d = spread_scan(load(spark, sf_dir, "documents"))
    # The exploded distinct-gram stream feeds BOTH the doc-frequency
    # agg (materialized by the guard's eager count) and the probe join
    # — the shingle+distinct pass ran twice. persist_tracked runs it
    # once (the q_winnowing_fingerprint rule). Session-3 sf0.1 A/B read
    # neutral; at the x25 ramp level: median 13.2 -> 7.0 s (0.53x),
    # identical results.
    grams = persist_tracked(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(whitespace_tokens(F.col("text")), 5))
            ).alias("gram"),
        )
    )
    gram_docs = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        grams.join(broadcast_if_bounded(gram_docs), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.cast("bigint").alias("n_dup"),
            (
                F.floor(dup.cast("double") / F.count(F.lit(1)) * 10000 + 0.5) / 10000
            ).alias("dup_frac"),
        )
    )


@register(
    "q_quality_classifier",
    oracle="""
    WITH tk AS (
        -- NULL text is excluded EXPLICITLY on both engines: Spark's
        -- map-only select would emit a NULL-scored row while unnest of
        -- a NULL split drops the doc here — a row-count divergence
        -- unless both sides pin the same scope.
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    w AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 15))::BIGINT % 2001 - 1000 AS wt
        FROM tk
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(wt) AS logit_sum
        FROM w GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens  AS BIGINT) AS n_tokens,
           CAST(logit_sum AS BIGINT) AS logit_sum,
           FLOOR(CAST(logit_sum AS DOUBLE) / n_tokens * 10000 + 0.5)
               / 10000 AS mean_weight,
           CAST(CASE WHEN logit_sum >= 0 THEN 1 ELSE 0 END AS BIGINT)
               AS keep
    FROM agg
    """,
    doc="Hashing-trick linear quality classifier — the learned-filter "
    "stage of DCLM / FineWeb-Edu pipelines (a fastText-style linear "
    "model scores every page; only top-scoring pages enter the training "
    "mix). The model here is the degenerate-but-exact stand-in: each "
    "token's weight is derived from the engine-portable 60-bit md5 hash "
    "(w = h % 2001 - 1000, an INTEGER in [-1000, 1000]), the document "
    "logit is the integer SUM of token weights (exact under ANY "
    "summation order — no float-accumulation drift between engines or "
    "partitionings), and keep thresholds the raw logit at 0 (sigmoid is "
    "monotone, so thresholding the probability IS thresholding the "
    "logit — the float sigmoid never needs to be computed, let alone "
    "compared). mean_weight renders via the floor-form 4dp round on one "
    "IEEE division of identical integers — bit-identical. Plan: ZERO "
    "shuffles — the token fold is a JVM higher-order aggregate over the "
    "split array (map-only, whole-stage codegen); with a real trained "
    "model the only change is a broadcast int-weight array indexed by "
    "pmod(hash, B) (hashing trick, B~1M buckets, a few MB) — the plan "
    "gains one broadcast variable and stays map-only.",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scope pinned to non-NULL text on both engines (see oracle note).
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    logit = F.expr(
        "aggregate(split(text, ' ', -1), 0L, (acc, t) -> acc"
        " + pmod(cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint), 2001L)"
        " - 1000L)"
    )
    n = F.size(F.split(F.col("text"), " ", -1)).cast("bigint")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        logit.alias("logit_sum"),
        (F.floor(logit.cast("double") / n * 10000 + 0.5) / 10000).alias(
            "mean_weight"
        ),
        (logit >= 0).cast("bigint").alias("keep"),
    )


# BPE-ish pre-tokenization regex, shared with q_token_count (text.py);
# duplicated as a literal into the f-string oracles below via this import.
from parquet_compactor_spark.llm.text import TOKEN_REGEX as _TOKEN_REGEX  # noqa: E402


@register(
    "q_context_length",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{_TOKEN_REGEX}')) AS n_tok
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n_tok <= {PACK_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fit,
           CAST(SUM(CASE WHEN n_tok > {PACK_BUDGET}
                         THEN n_tok - {PACK_BUDGET} ELSE 0 END)
                AS BIGINT) AS truncated_tokens,
           CAST(SUM((n_tok + {PACK_BUDGET} - 1) // {PACK_BUDGET}) AS BIGINT)
               AS windows_needed,
           CAST(SUM(((n_tok + {PACK_BUDGET} - 1) // {PACK_BUDGET})
                    * {PACK_BUDGET} - n_tok) AS BIGINT) AS pad_tokens,
           CASE WHEN SUM((n_tok + {PACK_BUDGET} - 1) // {PACK_BUDGET}) = 0
                THEN NULL
                ELSE FLOOR(CAST(SUM(n_tok) AS DOUBLE)
                           / (CAST(SUM((n_tok + {PACK_BUDGET} - 1)
                                       // {PACK_BUDGET}) AS DOUBLE)
                              * {PACK_BUDGET}) * 10000 + 0.5) / 10000
           END AS fill_frac
    FROM toks GROUP BY source
    """,
    doc="Tokenizer-aware context-length statistics per source: BPE-ish "
    "token counts (q_token_count's regex pre-tokenizer, NOT whitespace "
    "words) against the PACK_BUDGET-token context window. Reports the "
    "two packing regimes' costs side by side: TRUNCATION (docs cut to "
    "one window: truncated_tokens lost) and DOC-BOUNDARY PADDING (each "
    "doc padded up to a whole number of windows: windows_needed, "
    "pad_tokens wasted, fill_frac achieved) — the numbers that decide "
    "between truncation, padding, and q_seq_packing's concat-then-chunk "
    "(whose avg_fill is the third regime's same metric; at these "
    "budgets concat packing always wins on fill, and this query prices "
    "exactly what padding throws away). All integer-exact arithmetic "
    "(bigint div/ceil; the one float division is floor-form-rounded "
    "over identical operands, guarded against an all-empty source). "
    "Plan: scan -> map (regexp count is JVM codegen) -> one partial-"
    "aggregated rollup on source; no joins, no windows — scales as a "
    "single pass at 100 TB.",
)
def q_context_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_REGEX), 0))
    B = PACK_BUDGET
    toks = d.select("doc_id", "source", n_tok.alias("n_tok"))
    windows = F.floor((F.col("n_tok") + (B - 1)) / B).cast("bigint")
    sum_windows = F.sum(windows)
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("n_tok") <= B, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fit"),
        F.sum(F.when(F.col("n_tok") > B, F.col("n_tok") - B).otherwise(0))
        .cast("bigint")
        .alias("truncated_tokens"),
        sum_windows.cast("bigint").alias("windows_needed"),
        F.sum(windows * B - F.col("n_tok")).cast("bigint").alias("pad_tokens"),
        F.when(
            sum_windows == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.floor(
                F.sum("n_tok").cast("double")
                / (sum_windows.cast("double") * B)
                * 10000
                + 0.5
            )
            / 10000
        )
        .alias("fill_frac"),
    )


@register(
    "q_lang_temperature",
    oracle="""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    scored AS (
        SELECT lang, n_docs,
               CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total
        FROM counts
    ),
    u AS (
        SELECT lang, n_docs, n_total,
               CAST(FLOOR(exp(0.3 * ln(CAST(n_docs AS DOUBLE)
                                       / CAST(n_total AS DOUBLE)))
                          * 1000000 + 0.5) AS BIGINT) AS u_micro
        FROM scored
    )
    SELECT lang,
           n_docs,
           (n_docs * 1000000) // n_total AS share_ppm,
           -- CAST: DuckDB types BIGINT // (windowed SUM of BIGINT) as
           -- HUGEINT (the windowed SUM is HUGEINT); values fit bigint but
           -- the driver hashes representations, so pin the output type.
           CAST((u_micro * 1000000) // SUM(u_micro) OVER () AS BIGINT)
               AS sample_ppm,
           CAST((u_micro * 100000) // SUM(u_micro) OVER () AS BIGINT)
               AS budget_docs
    FROM u
    """,
    doc="Temperature-scaled multilingual sampling weights (Conneau et "
    "al. 2020, XLM-R SS3: sample language l with p_l proportional to "
    "(n_l/N)^alpha, alpha=0.3 — upsamples low-resource languages "
    "relative to their raw share without letting any language dominate). "
    "Emits each language's raw corpus share, its temperature-adjusted "
    "sampling probability, and its document budget out of a 100k-doc "
    "epoch. The single pow() chain per LANGUAGE (not per doc) is "
    "floor-rounded to integer micro-units immediately, so the "
    "normalization and budget allocation are exact bigint division — "
    "engine-identical regardless of accumulation order. Plan: one "
    "partial-aggregated count rollup on lang, then two unpartitioned "
    "window sums over the LANGUAGE table (cardinality ~dozens — a "
    "deliberate single-partition reduction of an already-tiny frame, "
    "never over docs). At 100 TB the per-doc work is one count; "
    "everything downstream is O(languages).",
)
def q_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    scored = counts.withColumn(
        "n_total", F.sum("n_docs").over(w_all).cast("bigint")
    )
    u_micro = F.floor(
        F.exp(
            F.lit(0.3)
            * F.log(F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
        )
        * 1000000
        + 0.5
    ).cast("bigint")
    u = scored.withColumn("u_micro", u_micro).withColumn(
        "den", F.sum("u_micro").over(w_all)
    )
    return u.select(
        "lang",
        "n_docs",
        F.expr("(n_docs * 1000000) div n_total").alias("share_ppm"),
        F.expr("(u_micro * 1000000) div den").alias("sample_ppm"),
        F.expr("(u_micro * 100000) div den").alias("budget_docs"),
    )


@register(
    "q_bpe_merge_pairs",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    p AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i+1])) AS pair
        FROM t WHERE len(w) >= 2
    )
    SELECT pair, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 50
    """,
    doc="BPE merge-pair statistics (Sennrich et al. 2016's vocabulary-"
    "induction inner loop): the 50 most frequent ADJACENT token pairs "
    "over the corpus, with corpus frequency and document frequency — "
    "the argmax of this table is the next merge a BPE trainer would "
    "apply. Deterministic: ties at the cut broken by pair text (both "
    "engines binary collation). Plan: one map-side transform+explode "
    "(O(tokens) rows, no doc pairs), then a TWO-LEVEL hash aggregate — "
    "(pair, doc_id) partial counts, then per-pair sum/count — instead "
    "of count+countDistinct in one agg, which would trigger the "
    "distinct-rewrite Expand (the q_approx_stats pathology class); "
    "both levels partial-aggregate map-side. Top-50 is orderBy+limit "
    "= TakeOrderedAndProject, a bounded per-partition heap merged on "
    "the driver — no global sort of the pair vocabulary (which at "
    "100 TB is billions of distinct bigrams). Empty tokens from "
    "multi-space runs are filtered on both engines; NULL text is "
    "scoped out on both. Reference parity note: the reference engine "
    "(parquet_compactor.py) has no text operators — north-star "
    "surface per SURVEY.md SS2B.",
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    toks = d.select("doc_id", ws.alias("ws"))
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                """
                CASE WHEN size(ws) >= 2
                THEN transform(sequence(0, size(ws) - 2),
                               i -> concat(ws[i], ' ', ws[i+1]))
                ELSE array() END
                """
            )
        ).alias("pair"),
    )
    per_doc = pairs.groupBy("pair", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    g = per_doc.groupBy("pair").agg(
        F.sum("c").alias("cnt"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return g.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(50)


@register(
    "q_collocation_pmi",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT p.w1 AS w1, p.w2 AS w2
        FROM (SELECT unnest(list_transform(range(1, len(w)),
                                           i -> {'w1': w[i], 'w2': w[i+1]})) AS p
              FROM t WHERE len(w) >= 2)
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS n_xy FROM bg GROUP BY w1, w2),
    uni AS (
        SELECT term, COUNT(*) AS n_x
        FROM (SELECT unnest(w) AS term FROM t) GROUP BY term
    ),
    tot AS (
        SELECT (SELECT CAST(SUM(n_xy) AS DOUBLE) FROM pc) AS n_pairs,
               (SELECT CAST(SUM(n_x) AS DOUBLE) FROM uni) AS n_tok
    )
    SELECT pc.w1, pc.w2, pc.n_xy AS pair_n,
           CAST(FLOOR(ln((CAST(pc.n_xy AS DOUBLE) / tot.n_pairs)
                         / ((CAST(u1.n_x AS DOUBLE) / tot.n_tok)
                            * (CAST(u2.n_x AS DOUBLE) / tot.n_tok)))
                      * 1000000 + 0.5) AS BIGINT) AS pmi_micro
    FROM pc
    JOIN uni u1 ON pc.w1 = u1.term
    JOIN uni u2 ON pc.w2 = u2.term
    CROSS JOIN tot
    WHERE pc.n_xy >= 5
    ORDER BY pmi_micro DESC, pc.w1, pc.w2
    LIMIT 20
    """,
    doc="PMI collocation extraction (Church & Hanks 1990's word-"
    "association ratio — the classic phrase-mining statistic, and the "
    "scoring rule behind multi-word vocabulary induction): "
    "pmi(x,y) = ln( p(xy) / (p(x)p(y)) ) over ADJACENT token pairs, "
    "with p(xy) normalized by total bigram count and the unigram "
    "marginals by total token count; pairs seen <5 times are dropped "
    "(the standard variance guard — PMI of a hapax pair is pure "
    "noise), and the top-20 by PMI is the proposed collocation list. "
    "Differs from q_bpe_merge_pairs by NORMALIZATION: raw pair "
    "frequency finds 'of the'; PMI finds pairs whose words rarely "
    "appear apart. Engine-exactness: the PMI expression is written in "
    "the identical IEEE shape on both engines and floor-rounded to "
    "integer micro-units, with (w1, w2) tiebreaks at the cut — only "
    "BIGINTs and strings cross the boundary. Plan: one tokenized scan "
    "feeds the pair explode; pair counts and unigram marginals "
    "aggregate behind the measured broadcast guard (cached + counted "
    "— gram space is open-ended at 100 TB, so broadcast only below "
    "the measured 2M-row bound); both corpus totals reduce over the "
    "CACHED aggregates (1-row broadcast crossJoin, zero extra corpus "
    "scans); the min-count filter prunes the pair table BEFORE its "
    "two marginal joins; top-20 is TakeOrderedAndProject (bounded "
    "per-partition heaps, no global sort of the pair vocabulary). "
    "Reference parity note: the reference engine has no text "
    "operators; north-star surface per SURVEY.md SS2B.",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        broadcast_if_bounded,
        persist_tracked,
        whitespace_tokens,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    # Deliberately NO spread_scan (measured r14, interleaved same-JVM
    # A/B x6): median 2.36 s without vs 3.06 s with — the extra
    # round-robin exchange loses to the explode it parallelizes (the
    # simhash-signatures finding, same class).
    toks = d.select(ws.alias("ws"))
    # ONE combined model pass (r14 session 4, the q_bigram_backoff
    # change): pair and unigram counts used to aggregate in two guard
    # counts, each re-scanning + re-tokenizing the corpus. One explode
    # of concat(unigram structs w2=NULL, pair structs) feeds one
    # persisted count table; `w2 IS NULL` splits it exactly. Local A/B
    # read parity (1.60 vs 1.60 s — the timed part runs on the cached
    # vocab either way); kept for the scan count at scale: 2 corpus
    # passes -> 1.
    combo_expr = F.expr(
        """
        concat(
          transform(ws, t -> struct(t AS w1, CAST(NULL AS string) AS w2)),
          CASE WHEN size(ws) >= 2
          THEN transform(sequence(0, size(ws) - 2),
                         i -> struct(ws[i] AS w1, ws[i + 1] AS w2))
          ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END
        )
        """
    )
    cnt = persist_tracked(
        toks.select(F.explode(combo_expr).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pc = broadcast_if_bounded(
        cnt.filter(F.col("w2").isNotNull()).select(
            "w1", "w2", F.col("n").alias("n_xy")
        )
    )
    uni = broadcast_if_bounded(
        cnt.filter(F.col("w2").isNull()).select(
            F.col("w1").alias("term"), F.col("n").alias("n_x")
        )
    )
    tot = pc.agg(F.sum("n_xy").cast("double").alias("n_pairs")).crossJoin(
        uni.agg(F.sum("n_x").cast("double").alias("n_tok"))
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("n_x").alias("nx1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("n_x").alias("nx2"))
    pmi_micro = F.floor(
        F.log(
            (F.col("n_xy").cast("double") / F.col("n_pairs"))
            / (
                (F.col("nx1").cast("double") / F.col("n_tok"))
                * (F.col("nx2").cast("double") / F.col("n_tok"))
            )
        )
        * 1000000
        + 0.5
    ).cast("bigint")
    scored = (
        pc.filter(F.col("n_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n_xy").alias("pair_n"),
            pmi_micro.alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


@register(
    "q_mixture_epochs",
    oracle="""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL
        GROUP BY source
        HAVING SUM(len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))) > 0
    ),
    u AS (
        SELECT source, n_tokens,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS t_total,
               CAST(FLOOR(exp(0.7 * ln(CAST(n_tokens AS DOUBLE)
                                       / CAST(SUM(n_tokens) OVER () AS DOUBLE)))
                          * 1000000 + 0.5) AS BIGINT) AS w_micro
        FROM tok
    ),
    d AS (SELECT u.*, CAST(SUM(w_micro) OVER () AS BIGINT) AS den FROM u)
    SELECT source, n_tokens,
           CAST((w_micro * 1000000) // den AS BIGINT) AS weight_ppm,
           CAST((w_micro * 10000000) // den AS BIGINT) AS alloc_tokens,
           CAST(((w_micro * 10000000) // den) * 1000 // n_tokens AS BIGINT)
               AS epochs_milli
    FROM d
    """,
    doc="Data-mixture epoch allocation (the LLaMA-style pretraining "
    "mixture table: given a total token budget and temperature-scaled "
    "domain weights, how many EPOCHS of each source does training "
    "consume — epochs > 1.0 meaning deliberate repetition of "
    "small-but-valuable domains, e.g. LLaMA's 2.45 epochs of "
    "Wikipedia): per-source token counts are temperature-scaled with "
    "alpha = 0.7 (w_s proportional to (t_s/T)^0.7 via the exp/ln chain, "
    "floor-rounded to integer micro-units exactly as q_lang_temperature "
    "does for document shares), the budget of 10,000,000 tokens is "
    "allocated by exact integer arithmetic on the micro-weights, and "
    "epochs_milli = allocated/available in thousandths. DIFFERS from "
    "q_lang_temperature in every axis that matters operationally: "
    "TOKEN-weighted (not doc-count) shares, per SOURCE (not language), "
    "and the output is the repetition factor a dataloader consumes. "
    "Zero-token sources (non-NULL but whitespace-only texts) are scoped "
    "out identically on both engines (HAVING > 0 / filter > 0): DuckDB's "
    "ln(0) ABORTS the query while Spark's F.log(0) returns NULL — a "
    "differential-harness divergence class, pinned by the hostile-data "
    "fixture's whitespace-only source. "
    "Engine-exactness: the one libm chain (exp/ln) floor-rounds to "
    "micro-units; every division after it is integer // with identical "
    "operands — only BIGINTs and the source string cross the engine "
    "boundary (all windowed-SUM intermediates CAST AS BIGINT: DuckDB "
    "types them HUGEINT — the q_lang_temperature driver-red class, "
    "now linted). Plan: one map-side token-count scan into a per-"
    "source partial agg; everything after is O(sources) — the "
    "unpartitioned windows run on a source-count-sized table, never "
    "the corpus. Reference parity note: the reference engine has no "
    "text operators; north-star surface per SURVEY.md SS2B.",
)
def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    tok = d.groupBy("source").agg(
        F.sum(F.size(ws)).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w_all = Window.partitionBy()
    u = tok.withColumn(
        "t_total", F.sum("n_tokens").over(w_all).cast("bigint")
    ).withColumn(
        "w_micro",
        F.floor(
            F.exp(
                F.lit(0.7)
                * F.log(
                    F.col("n_tokens").cast("double")
                    / F.col("t_total").cast("double")
                )
            )
            * 1000000
            + 0.5
        ).cast("bigint"),
    )
    dd = u.withColumn("den", F.sum("w_micro").over(w_all).cast("bigint"))
    return dd.select(
        "source",
        "n_tokens",
        F.expr("(w_micro * 1000000) div den").alias("weight_ppm"),
        F.expr("(w_micro * 10000000) div den").alias("alloc_tokens"),
        F.expr("((w_micro * 10000000) div den) * 1000 div n_tokens").alias(
            "epochs_milli"
        ),
    )


@register(
    "q_padding_waste",
    oracle="""
    WITH t AS (
        SELECT least(len(list_filter(string_split(text, ' '),
                                     x -> x <> '')), 128) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (SELECT ((tok + 15) // 16) * 16 AS bucket, tok FROM t WHERE tok >= 1)
    SELECT CAST(bucket AS BIGINT) AS bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           CAST(((COUNT(*) * bucket - CAST(SUM(tok) AS BIGINT)) * 1000000)
                // (COUNT(*) * bucket) AS BIGINT) AS waste_ppm,
           CAST(((COUNT(*) * 128 - CAST(SUM(tok) AS BIGINT)) * 1000000)
                // (COUNT(*) * 128) AS BIGINT) AS naive_waste_ppm
    FROM b GROUP BY bucket
    """,
    doc="Padding-waste accounting for length-bucketed training batches: "
    "cap each document's whitespace token count at a 128-token context, "
    "assign it to a 16-token length bucket (the bucketed-batching "
    "strategy of fairseq/T5 data loaders), and report per bucket the "
    "padding overhead of bucketed batching (pad to bucket ceiling) vs "
    "naive batching (pad everything to the 128-token context cap) in "
    "exact integer ppm. The "
    "gap between waste_ppm and naive_waste_ppm is the compute a bucketed "
    "loader saves — the number that justifies length-grouped sampling "
    "at scale (context length and bucket width are deployment knobs; "
    "sized here to straddle the fixture's 10-99-token documents). "
    "Plan: pure map (split/size/least/div) + ONE "
    "partial-aggregated hash agg on an 8-value bucket key — "
    "embarrassingly parallel, no joins, no windows; the integer ppm "
    "divisions are engine-exact. At 100 TB this is scan-bound.",
)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = F.least(
        F.size(F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")),
        F.lit(128),
    ).cast("bigint")
    b = d.select(tok.alias("tok")).filter(F.col("tok") >= 1)
    b = b.withColumn("bucket", F.expr("((tok + 15) div 16) * 16"))
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
    )
    return g.select(
        F.col("bucket").cast("bigint").alias("bucket_len"),
        "n_docs",
        "sum_tokens",
        (F.col("n_docs") * F.col("bucket")).cast("bigint").alias("padded_tokens"),
        F.expr(
            "CAST(((n_docs * bucket - sum_tokens) * 1000000)"
            " div (n_docs * bucket) AS BIGINT)"
        ).alias("waste_ppm"),
        F.expr(
            "CAST(((n_docs * 128 - sum_tokens) * 1000000)"
            " div (n_docs * 128) AS BIGINT)"
        ).alias("naive_waste_ppm"),
    )


# DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing Data
# Mixtures Speeds Up Language Model Pretraining"): Group-DRO
# multiplicative-weights iteration over domain excess loss, linearized
# to exact integer micro-units so every round is bit-identical across
# engines (the ln/exp-free discipline q_pagerank established for
# iterative recurrences).
DOREMI_ROUNDS = 3
DOREMI_CAP_MICRO = 400_000  # per-domain weight cap (0.4) applied each round
DOREMI_ETA_DIV = 10  # eta = 1/10: factor = 1e6 + excess_micro // 10


def _doremi_oracle() -> str:
    cap = DOREMI_CAP_MICRO
    eta = DOREMI_ETA_DIV
    rounds = "".join(
        f"""
    u{r} AS (
        SELECT *, (w * (1000000 + excess_micro // {eta})) // 1000000 AS u
        FROM {"r0" if r == 1 else f"n{r - 1}"}
    ),
    n{r} AS (
        SELECT source, n_docs, nd, excess_micro,
               LEAST(CAST((u * 1000000)
                          // CAST(SUM(u) OVER () AS BIGINT)
                          AS BIGINT), {cap}) AS w
        FROM u{r}
    ),"""
        for r in range(1, DOREMI_ROUNDS + 1)
    )
    last = f"n{DOREMI_ROUNDS}"
    return f"""
    WITH dom AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
               CAST(SUM(sum_tok) AS BIGINT) AS tt,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM dom
    ),
    ex AS (
        SELECT d.source, d.n_docs, t.nd,
               GREATEST(
                   CAST(FLOOR(
                       (CAST(d.sum_tok AS DOUBLE) / CAST(d.n_docs AS DOUBLE))
                       / (CAST(t.tt AS DOUBLE) / CAST(t.td AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT) - 1000000,
                   CAST(0 AS BIGINT)) AS excess_micro
        FROM dom d CROSS JOIN tot t
    ),
    r0 AS (SELECT *, 1000000 // nd AS w FROM ex),{rounds}
    fin AS (
        SELECT source, n_docs, nd, excess_micro,
               CAST((w * 1000000)
                    // CAST(SUM(w) OVER () AS BIGINT)
                    AS BIGINT) AS wn
        FROM {last}
    )
    SELECT source, n_docs, excess_micro,
           CAST((wn * 9) // 10 + 1000000 // (10 * nd) AS BIGINT) AS w_micro,
           CAST(CAST((wn * 9) // 10 + 1000000 // (10 * nd) AS BIGINT)
                AS DOUBLE) / 1000000 AS w_frac
    FROM fin
    """


@register(
    "q_doremi_weights",
    oracle=_doremi_oracle(),
    doc="DoReMi-style domain-mixture reweighting (Xie et al. 2023): "
    "Group-DRO multiplicative-weights iteration over per-domain excess "
    "loss, with per-round clipping and a final uniform-smoothing mix — "
    "the data-engine half of DoReMi, with the proxy/reference model "
    "loss gap replaced by a deterministic corpus statistic (relative "
    "mean document length, the same stand-in q_dsir_weights uses for "
    "importance). The recurrence is LINEARIZED to exact bigint "
    "micro-units (w <- w * (1e6 + eta*excess) div 1e6, renormalize by "
    "integer div, clip at 0.4) instead of exp(eta*L): same monotone "
    "update direction, zero float accumulation — engine-identical on "
    "every round, the q_pagerank integer-fixed-point discipline. "
    "Per-round clipping makes the 3 unrolled rounds genuinely "
    "iterative (a clip between rounds is not foldable into one "
    "exp-sum). Plan: one corpus-scan agg to the per-domain table "
    "(map-side partial on the source key), then every round is a "
    "LINEAR chain of column arithmetic + one unpartitioned windowed "
    "SUM on the DOMAINS-sized frame — deliberately a window, not an "
    "agg+crossJoin of the same frame, because branching the iterating "
    "frame doubles the unshared plan subtree EVERY round (measured: "
    "the crossJoin form re-ran the corpus scan 2^rounds times). The "
    "single-partition window exchange moves dozens of rows; at 100 TB "
    "domains number in the dozens, so the whole iteration is free next "
    "to the single corpus scan. Final weights sum to ~1e6 ppm and feed "
    "q_mixture_epochs/q_lang_temperature-style samplers downstream.",
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents")
    dom = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(whitespace_tokens(F.col("text"))).cast("bigint")).alias(
            "sum_tok"
        ),
    )
    # Corpus totals AND every round's renormalizing sum are windowed
    # sums over the domains-sized frame: the whole iteration is ONE
    # linear plan chain off a single corpus scan. (An agg+crossJoin per
    # round references the iterating frame from two branches — the
    # unshared subtree doubles every round and the measured plan re-ran
    # the corpus scan 2^rounds times.)
    wall = Window.partitionBy()
    ex = (
        dom.withColumn("td", F.sum("n_docs").over(wall).cast("bigint"))
        .withColumn("tt", F.sum("sum_tok").over(wall).cast("bigint"))
        .withColumn("nd", F.count(F.lit(1)).over(wall).cast("bigint"))
        .select(
            "source",
            "n_docs",
            "nd",
            F.greatest(
                F.floor(
                    (
                        F.col("sum_tok").cast("double")
                        / F.col("n_docs").cast("double")
                    )
                    / (F.col("tt").cast("double") / F.col("td").cast("double"))
                    * 1000000
                    + 0.5
                ).cast("bigint")
                - 1000000,
                F.lit(0).cast("bigint"),
            ).alias("excess_micro"),
        )
    )
    w = ex.withColumn("w", F.expr("1000000 div nd"))
    for _ in range(DOREMI_ROUNDS):
        w = (
            w.withColumn(
                "u",
                F.expr(
                    f"(w * (1000000 + excess_micro div {DOREMI_ETA_DIV}))"
                    " div 1000000"
                ),
            )
            .withColumn("s", F.sum("u").over(wall).cast("bigint"))
            .withColumn(
                "w",
                F.expr(f"least((u * 1000000) div s, {DOREMI_CAP_MICRO})"),
            )
            .drop("u", "s")
        )
    w = (
        w.withColumn("s", F.sum("w").over(wall).cast("bigint"))
        .withColumn("wn", F.expr("(w * 1000000) div s"))
    )
    w_micro = F.expr("CAST((wn * 9) div 10 + 1000000 div (10 * nd) AS BIGINT)")
    return w.select(
        "source",
        "n_docs",
        "excess_micro",
        w_micro.alias("w_micro"),
        (w_micro.cast("double") / 1000000).alias("w_frac"),
    )


# Explicit Bloom-filter runtime-filter stage for the snapshot-delta
# anti-join. Spark's optimizer injects the same structure inside joins
# (spark.sql.optimizer.runtime.bloomFilter.*); materializing it as an
# operator makes the 100 TB pruning pattern auditable: the filter is
# m bits of driver-broadcastable state, probes are k integer hashes,
# and the EXACT anti-join only ever sees the bloom's survivors.
BLOOM_MIN_BITS = 65536  # m floor: 8 KiB as a real bitmap
BLOOM_BITS_PER_KEY = 10  # sizing rule: m >= 10 bits per old-snapshot key
BLOOM_K = 4  # k: hash probes per fingerprint


def _bloom_m(n_keys: int) -> int:
    """Bit-position space sized from the MEASURED key cardinality: the
    next power of two >= BLOOM_BITS_PER_KEY * n_keys (floor 65536). A
    constant m saturates as the snapshot grows — at ~15k keys a fixed
    65536-bit filter passes, at sf>=0.5 its false-positive survivors
    blow the 5% pruning budget and the query goes red. 10 bits/key with
    k=4 holds the fill factor at 1-exp(-0.4) ~= 0.33 and the fp rate at
    ~1.2% INDEPENDENT of scale, so the fp_ok contract is a theorem, not
    a fixture-size coincidence."""
    m = BLOOM_MIN_BITS
    while m < BLOOM_BITS_PER_KEY * n_keys:
        m *= 2
    return m


def _bloom_positions(fp: Column, m: int) -> list[Column]:
    """k integer bit positions for a fingerprint: xxhash64 seeded by the
    probe index (JVM-side, no Python), folded into [0, m)."""
    return [
        F.pmod(F.xxhash64(fp, F.lit(i)), F.lit(m)) for i in range(BLOOM_K)
    ]


@register(
    "q_bloom_delta",
    oracle="""
    WITH old_snap AS (
        SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            AS fp
        FROM documents WHERE doc_id % 3 <> 0
    ),
    new_batch AS (
        SELECT doc_id, lang,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT EXISTS
                        (SELECT 1 FROM old_snap o WHERE o.fp = n.fp)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_true_new,
           TRUE AS no_false_neg,
           TRUE AS fp_ok
    FROM new_batch n
    GROUP BY lang
    """,
    doc="Bloom-filter-gated snapshot delta — the runtime-filter pattern "
    "q_snapshot_delta's 100 TB note promises, materialized as an "
    "auditable operator instead of trusting the optimizer: the OLD "
    "snapshot's normalized fingerprints set k=4 xxhash64-derived bit "
    "positions in a Bloom filter whose position space m is SIZED FROM "
    "the snapshot's measured cardinality (next power of two >= 10 "
    "bits/key, floor 65536 — a constant m saturates once the snapshot "
    "outgrows the fixture; 10 bits/key pins the fill factor at ~0.33 "
    "and the fp rate at ~1.2% at EVERY scale; built as a DISTINCT "
    "position table — <= m rows, broadcastable; a real "
    "deployment packs it to m/8 bytes), and every NEW document probes "
    "its 4 positions through ONE broadcast hash join + per-doc count: "
    "all-k-hit = 'maybe present' (must still pass the exact check), "
    "any-miss = DEFINITELY new (skips the exact anti-join entirely). "
    "At 100 TB the bloom prunes the anti-join's probe side to the "
    "tiny maybe set for ~8 KiB of shipped state per million old docs "
    "— the exact-check exchange shrinks by the true-new fraction. "
    "DERIVED-INVARIANT oracle (the q_hll_sketch pattern, since DuckDB "
    "cannot replay JVM xxhash64): exact per-language n_docs/n_true_new "
    "are hash-compared directly, and the bloom's two contracts are "
    "output as booleans the oracle pins TRUE — no_false_neg (every "
    "actually-present doc is a bloom hit: the pruning NEVER loses a "
    "duplicate, by Bloom construction) and fp_ok (false-positive "
    "survivors of the pruning stay under 5% of the batch; theory at "
    "the sized fill factor predicts ~1.2e-2). NULL-text docs have NULL "
    "fingerprints: never present exactly (NULL never equals), so any "
    "bloom collision lands in the bounded false-positive budget.",
)
def q_bloom_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import (
        normalized_fingerprint,
        persist_tracked,
    )

    d = load(spark, sf_dir, "documents")
    fp = normalized_fingerprint(F.col("text")).alias("fp")
    # old_snap is consumed by TWO branches (the bit-table build and the
    # exact-membership join): persist_tracked so its corpus scan +
    # DISTINCT shuffle run once, not per consumer (the q_dsir_weights
    # multi-consumer-subtree rule).
    old_snap = persist_tracked(
        d.filter(F.col("doc_id") % 3 != 0).select(fp).distinct()
    )
    # Size m from the snapshot's MEASURED cardinality (one bounded
    # scalar off the already-persisted frame — the count also
    # materializes the persist before its two consumers fork). A
    # build-time count is how a real bloom build sizes itself; it keeps
    # the fp_ok contract scale-independent instead of pinned to the
    # fixture's ~3k fingerprints.
    m = _bloom_m(old_snap.count())
    new_batch = d.select("doc_id", "lang", fp)

    # Build: the set-bit table (<= m rows of int positions), persisted —
    # its explode+distinct subtree has k broadcast-build consumers below
    # (initial-plan exchange reuse does not dedup across their differing
    # probe aliases), and without the persist each one re-ran the
    # distinct's exchange.
    bits = persist_tracked(
        old_snap.select(
            F.explode(F.array(*_bloom_positions(F.col("fp"), m))).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # Probe: k row-preserving broadcast joins, one per probe position —
    # NOT explode(k rows/doc) + groupBy(doc_id) + a doc_id re-join onto
    # the exact branch (the r14 shape before this one): that form paid
    # an exchange for the per-doc count and TWO more for the doc_id
    # join. bits.pos is DISTINCT so each probe join matches at most one
    # row (row count preserved); all-k-hit == the old sum(hit) == k,
    # duplicate probe positions included (each of the k probes tests
    # its own position independently in both forms). The whole bloom
    # gate is now shuffle-free; the only exchange left is the final
    # per-language rollup.
    probed = new_batch
    hit_cols = []
    for i, pos in enumerate(_bloom_positions(F.col("fp"), m)):
        # Join the SAME aliased frame each round (alias only changes
        # qualifiers, so the k broadcast build plans canonicalize
        # identically and ReuseExchange materializes ONE hashed
        # relation); fold each round's hit into its own flag and drop
        # the join columns so the next round is unambiguous.
        b_i = bits.alias(f"b{i}")
        probed = (
            probed.withColumn("_probe", pos)
            .join(
                F.broadcast(b_i),
                F.col("_probe") == F.col(f"b{i}.pos"),
                "left",
            )
            .withColumn(f"_hit{i}", F.col(f"b{i}.hit").isNotNull())
            .drop("pos", "hit", "_probe")
        )
        hit_cols.append(F.col(f"_hit{i}"))
    bloom_maybe = hit_cols[0]
    for c in hit_cols[1:]:
        bloom_maybe = bloom_maybe & c
    # Exact membership (what the bloom approximates) rides the same
    # row stream: fp join against the persisted snapshot.
    per_doc = probed.join(
        old_snap.withColumn("present", F.lit(True)), "fp", "left"
    ).select(
        "doc_id",
        "lang",
        F.coalesce(~F.col("present"), F.lit(True)).alias("exact_new"),
        bloom_maybe.alias("bloom_maybe"),
    )
    n_docs = F.count(F.lit(1)).cast("bigint")
    return per_doc.groupBy("lang").agg(
        n_docs.alias("n_docs"),
        F.sum(F.col("exact_new").cast("int")).cast("bigint").alias("n_true_new"),
        # Bloom contract 1: present (NOT exact_new) implies bloom_maybe.
        F.bool_and(F.col("bloom_maybe") | F.col("exact_new")).alias(
            "no_false_neg"
        ),
        # Bloom contract 2: false-positive survivors (actually new but
        # not pruned) bounded by 5% of the batch (theory: ~1.2e-2 at the
        # sized 10-bits/key fill factor, scale-independent).
        (
            F.sum((F.col("exact_new") & F.col("bloom_maybe")).cast("int"))
            <= F.greatest(F.lit(1), (n_docs / 20).cast("bigint"))
        ).alias("fp_ok"),
    )


KANON_K = 5  # the k in k-anonymity: groups under this are re-identifiable


@register(
    "q_kanon_audit",
    oracle=f"""
    WITH qi AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    ),
    g AS (
        SELECT nationkey, mktsegment, bal_band,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM qi GROUP BY nationkey, mktsegment, bal_band
    )
    SELECT nationkey, mktsegment, bal_band, n_rows,
           n_rows < {KANON_K} AS at_risk,
           CAST((CAST(SUM(CASE WHEN n_rows < {KANON_K} THEN n_rows
                               ELSE 0 END) OVER () AS BIGINT) * 1000000)
                // CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)
               AS risk_ppm
    FROM g
    """,
    doc="k-anonymity release audit — the privacy check a dataset passes "
    "before rows leave the lake (the compliance sibling of q_pii_scrub "
    "and functions/incremental.propagate_deletes): group by the "
    "quasi-identifier tuple (nation, market segment, account-balance "
    "band of 1000) and flag every equivalence class smaller than k=5 — "
    "members of those classes are re-identifiable by an adversary who "
    "knows the quasi-identifiers. Output: every class with its size, "
    "its at_risk flag, and the corpus-level risk_ppm (rows living in "
    "risky classes, exact integer ppm — the single number a release "
    "gate thresholds on; remediation is generalizing a QI column or "
    "suppressing the risky rows). Plan: ONE hash aggregate on the QI "
    "tuple + a class-count-sized window — at 100 TB the class table is "
    "bounded by the QI domain product, orders of magnitude smaller "
    "than the data, so the audit is scan-bound. NULL balances form "
    "their own NULL band in BOTH engines (GROUP BY NULL groups "
    "together), so unknown values are audited, not dropped.",
)
def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    g = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("nationkey", "mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    return g.select(
        "nationkey",
        "mktsegment",
        "bal_band",
        "n_rows",
        (F.col("n_rows") < KANON_K).alias("at_risk"),
        # Exact integer division (div, not /): Spark's / on bigints is
        # DOUBLE and loses integer exactness past 2^53 — the oracle's
        # // is exact, and a half-ulp rounding flip would diverge the
        # hash by one ppm.
        F.expr(
            f"CAST((CAST(SUM(CASE WHEN n_rows < {KANON_K} THEN n_rows"
            " ELSE 0 END) OVER () AS BIGINT) * 1000000)"
            " div CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)"
        ).alias("risk_ppm"),
    )


@register(
    "q_dist_drift",
    oracle="""
    WITH toks AS (
        SELECT doc_id, LEAST(len(string_split(text, ' ')), 128) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (
        SELECT CAST(((tok + 15) // 16) * 16 AS BIGINT) AS bucket_len,
               CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS is_old
        FROM toks
    ),
    g AS (
        SELECT bucket_len,
               CAST(SUM(is_old) AS BIGINT) AS n_old,
               CAST(SUM(1 - is_old) AS BIGINT) AS n_new
        FROM b GROUP BY bucket_len
    ),
    t AS (
        SELECT *, CAST(SUM(n_old) OVER () AS BIGINT) AS tot_old,
               CAST(SUM(n_new) OVER () AS BIGINT) AS tot_new
        FROM g
    ),
    p AS (
        SELECT bucket_len, n_old, n_new,
               CAST(GREATEST((n_old * 1000000) // NULLIF(tot_old, 0), 1)
                    AS BIGINT) AS p_ppm,
               CAST(GREATEST((n_new * 1000000) // NULLIF(tot_new, 0), 1)
                    AS BIGINT) AS q_ppm
        FROM t
    )
    SELECT bucket_len, n_old, n_new, p_ppm, q_ppm,
           CAST(FLOOR((CAST(q_ppm AS DOUBLE) - CAST(p_ppm AS DOUBLE))
                      / 1000000
                      * ln(CAST(q_ppm AS DOUBLE) / CAST(p_ppm AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS psi_micro
    FROM p
    """,
    doc="Snapshot-to-snapshot distribution drift via the Population "
    "Stability Index — the monitoring number every continuously-"
    "crawled corpus tracks so a crawler change or upstream template "
    "shift is caught BEFORE it trains into a model: the previous "
    "snapshot (doc_id % 3 != 0, the q_snapshot_delta shard convention) "
    "and the new shard are bucketed by capped token count (the 16-wide "
    "q_padding_waste grid), each bucket's share computed in exact "
    "integer ppm (clamped to >= 1 ppm — the standard PSI smoothing for "
    "empty cells, identically on both engines), and the per-bucket PSI "
    "contribution (q-p)*ln(q/p) is evaluated with the SAME IEEE op "
    "chain in both engines on those exact integers, then floor-rounded "
    "to micro-units (the q_token_entropy ln discipline) — summing "
    "psi_micro downstream gives the headline PSI (rule of thumb: "
    "> 0.25 = population shift, retrain the curation filters). Plan: "
    "ONE corpus scan -> one bucket-keyed hash agg (both shards split "
    "by a flag inside the SAME aggregate, never two scans) -> a "
    "buckets-sized window; scan-bound at any scale.",
)
def q_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import whitespace_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = F.least(F.size(whitespace_tokens(F.col("text"))), F.lit(128))
    b = d.select(
        tok.alias("tok"),
        F.when(F.col("doc_id") % 3 != 0, 1).otherwise(0).alias("is_old"),
    ).select(
        F.expr("CAST(((tok + 15) div 16) * 16 AS BIGINT)").alias("bucket_len"),
        "is_old",
    )
    g = b.groupBy("bucket_len").agg(
        F.sum("is_old").cast("bigint").alias("n_old"),
        F.sum(1 - F.col("is_old")).cast("bigint").alias("n_new"),
    )
    wall = Window.partitionBy()
    g = (
        g.withColumn("tot_old", F.sum("n_old").over(wall).cast("bigint"))
        .withColumn("tot_new", F.sum("n_new").over(wall).cast("bigint"))
        .withColumn(
            "p_ppm",
            F.expr(
                "CAST(GREATEST((n_old * 1000000) div NULLIF(tot_old, 0), 1)"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "q_ppm",
            F.expr(
                "CAST(GREATEST((n_new * 1000000) div NULLIF(tot_new, 0), 1)"
                " AS BIGINT)"
            ),
        )
    )
    return g.select(
        "bucket_len",
        "n_old",
        "n_new",
        "p_ppm",
        "q_ppm",
        F.expr(
            "CAST(FLOOR((CAST(q_ppm AS DOUBLE) - CAST(p_ppm AS DOUBLE))"
            " / 1000000"
            " * ln(CAST(q_ppm AS DOUBLE) / CAST(p_ppm AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("psi_micro"),
    )


@register(
    "q_source_overlap",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               md5(array_to_string(w[i:i+2], ' ')) AS h
        FROM words, UNNEST(range(1, greatest(len(w)-2, 0)+1)) AS t(i)
    ),
    counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
        FROM counts a JOIN counts b ON a.source < b.source
    ),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.n_a, p.n_b,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(COALESCE(s.n_shared, 0)
                 / CAST(p.n_a + p.n_b - COALESCE(s.n_shared, 0) AS DOUBLE), 4)
               AS jaccard,
           ROUND(COALESCE(s.n_shared, 0)
                 / CAST(LEAST(p.n_a, p.n_b) AS DOUBLE), 4) AS containment
    FROM pairs p
    LEFT JOIN shared s ON p.src_a = s.src_a AND p.src_b = s.src_b
    ORDER BY p.src_a, p.src_b
    """,
    doc="Cross-source n-gram overlap matrix: the distinct 3-word shingle "
    "sets of every source pair are compared by Jaccard and containment — "
    "the corpus-provenance audit run before mixing crawls (how much of "
    "source B is already inside source A decides whether adding B buys "
    "new tokens or re-epochs old ones; Penedo et al.'s FineWeb ablations "
    "and the Pile's inter-set overlap table are exactly this matrix). "
    "Spark-first (r14: the q_pagerank collect_set pattern): ONE "
    "hash-keyed shuffle with set-dedup partial aggregation collects "
    "each gram's <= #sources source set — replacing BOTH the former "
    "(source, md5) DISTINCT shuffle and the gram self-join — and the "
    "ordered pairs expand from the set as an array expression (at most "
    "#sources^2/2 rows per gram, never a document-pair explosion); "
    "per-source set sizes derive from the same cached set table and "
    "ride as two broadcast joins onto the complete ordered-pair spine "
    "(a 20x20 bounded broadcast nested loop, allowlisted in the global "
    "cartesian audit) so ZERO-overlap pairs still report a row. At "
    "100 TB the only data-proportional stage is the single gram-hash "
    "shuffle (uniform 32-byte keys, bounded per-key state); output "
    "stays sources^2/2 rows regardless of corpus size. Measured r14 "
    "(interleaved same-JVM A/B, identical results): 3.01 -> 2.63 s at "
    "sf0.1, 19.3 -> 6.6 s (0.34x) at the x25 ramp level.",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import persist_tracked, spread_scan

    d = spread_scan(load(spark, sf_dir, "documents"))
    grams = d.select(
        "source",
        F.explode(word_shingles(F.split("text", " ", -1), 3)).alias("g"),
    ).select("source", F.md5("g").alias("h"))
    # ONE h-keyed shuffle with set-dedup partial aggregation replaces
    # the former (source, h) DISTINCT shuffle AND the gram self-join:
    # per hash, the <= #sources source set expands to ordered pairs as
    # an array expression (the q_pagerank collect_set pattern) —
    # identical pair counts (each shared hash contributes each ordered
    # source pair exactly once; collect_set dedups (source, h) within
    # the group exactly as DISTINCT did). NULL sources never reach the
    # output on either form (collect_set drops them; the spine's
    # src_a < src_b is NULL-falsy). The set table feeds both the
    # per-source sizes and the pair expansion — persist it once.
    sets = persist_tracked(
        grams.groupBy("h").agg(F.collect_set("source").alias("ss"))
    )
    counts = (
        sets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        F.broadcast(counts.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
        .join(
            F.broadcast(
                counts.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            ),
            F.col("src_a") < F.col("src_b"),
        )
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x: F.transform(
                F.filter(F.col("ss"), lambda y: x < y),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    shared = (
        sets.filter(F.size("ss") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(shared, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_shared", F.lit(0))).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / F.least("n_a", "n_b").cast("double"),
                4,
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Differentially private histogram release (discrete Laplace, exact-integer)
# --------------------------------------------------------------------------

#: Two-sided-geometric decay alpha = 1/4 -> epsilon = ln(1/alpha) = ln 4
#: per released count (unit sensitivity: one document changes one count
#: by one). Kept rational so the inverse-CDF table below is EXACT.
DP_ALPHA_NUM, DP_ALPHA_DEN = 1, 4
#: Noise support truncated at |z| <= 21: alpha^21 = 4^-21 ~ 2^-42 is below
#: the 2^-40 sampling-grid resolution, so the truncation is invisible.
DP_ZMAX = 21
DP_GRID_BITS = 40


def _dp_thresholds() -> list[int]:
    """Inverse-CDF thresholds of the discrete Laplace (two-sided
    geometric) distribution pmf(z) = (1-a)/(1+a) * a^|z| on the integer
    grid [0, 2^40): T[i] = floor(CDF(z_i) * 2^40) for z_i = -21..21,
    computed in EXACT rational arithmetic (fractions) and inlined as
    bigint literals into both engines — the sampled noise is then a pure
    integer comparison count, no transcendental functions anywhere, so
    engine parity is exact by construction (the same driver-side-model-
    state technique as the ANN centroid matrices)."""
    from fractions import Fraction

    a = Fraction(DP_ALPHA_NUM, DP_ALPHA_DEN)
    norm = (1 - a) / (1 + a)
    cum = Fraction(0)
    out: list[int] = []
    for z in range(-DP_ZMAX, DP_ZMAX + 1):
        cum += norm * a ** abs(z)
        out.append(int(cum * 2**DP_GRID_BITS))
    out[-1] = 2**DP_GRID_BITS  # absorb the truncated tail
    return out


DP_THRESHOLDS = _dp_thresholds()
DP_SALT = ":dp-r11"


@register(
    "q_dp_histogram",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
        FROM documents GROUP BY source
    ),
    draw AS (
        SELECT source, n_true,
               ('0x' || substr(md5(source || '{DP_SALT}'), 1, 10))::BIGINT AS k
        FROM counts
    ),
    noise AS (
        SELECT source, n_true,
               CAST(len(list_filter({DP_THRESHOLDS},
                                     t -> t <= k)) - {DP_ZMAX} AS BIGINT)
                   AS z
        FROM draw
    )
    SELECT source, n_true, z,
           GREATEST(n_true + z, 0) AS n_released
    FROM noise ORDER BY source
    """,
    doc="Differentially private histogram release: per-source document "
    "counts plus discrete-Laplace noise (two-sided geometric, "
    "Ghosh-Roughgarden-Sundararajan 2009 — the UTILITY-OPTIMAL "
    "mechanism for integer counts) at alpha=1/4 (eps = ln 4 per count, "
    "unit sensitivity), clamped at zero — the release step after "
    "q_kanon_audit decides which cells are publishable at all. "
    "Engine-exact by construction: the noise sample is an inverse-CDF "
    "walk over a 43-entry threshold table computed ONCE driver-side in "
    "exact rational arithmetic and inlined as bigint literals into both "
    "engines; the per-group uniform draw is the first 40 bits of a "
    "salted md5, so sampling is a filter-count over integer literals — "
    "no ln/exp/pow anywhere, no float at all (the repo's exact-integer "
    "convention, cf. q_pagerank's micro-units). n_true rides along for "
    "audit only (a production release would drop it). Plan: one "
    "hash-aggregate to the per-source counts, then pure per-row literal "
    "arithmetic — MAP-ONLY after the 20-group agg; at 100 TB the "
    "mechanism's cost is the count itself. The deterministic salt makes "
    "the 'draw' reproducible for the differential harness; swap the "
    "salt per release epoch in production.",
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_true"))
    k = F.conv(
        F.substring(F.md5(F.concat(F.col("source"), F.lit(DP_SALT))), 1, 10),
        16,
        10,
    ).cast("bigint")
    from parquet_compactor_spark.llm.text import lit_long_array

    thresholds = lit_long_array(DP_THRESHOLDS)
    z = (
        F.size(F.filter(thresholds, lambda t: t <= k)) - F.lit(DP_ZMAX)
    ).cast("bigint")
    return (
        counts.select(
            "source",
            "n_true",
            z.alias("z"),
            F.greatest(F.col("n_true") + z, F.lit(0).cast("bigint")).alias(
                "n_released"
            ),
        )
        .orderBy("source")
    )


#: Distinct-l-diversity requirement: every quasi-identifier class must
#: contain at least L distinct sensitive values to be releasable.
LDIV_L = 3


@register(
    "q_l_diversity",
    oracle=f"""
    WITH rows_ AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    ),
    cls AS (
        SELECT nationkey, mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS n_sensitive
        FROM rows_ GROUP BY nationkey, mktsegment
    )
    SELECT nationkey, mktsegment, n_rows, n_sensitive,
           n_sensitive < {LDIV_L} AS at_risk,
           CAST((CAST(SUM(CASE WHEN n_sensitive < {LDIV_L} THEN n_rows
                               ELSE 0 END) OVER () AS BIGINT) * 1000000)
                // CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)
               AS risk_ppm
    FROM cls
    """,
    doc="Distinct-l-diversity release audit (Machanavajjhala et al. 2007) "
    "— the attribute-disclosure companion to q_kanon_audit: k-anonymity "
    "bounds IDENTITY disclosure but a class where every member shares "
    "one sensitive value still leaks the attribute (the 'homogeneity "
    "attack'), so each quasi-identifier class (nation, market segment) "
    "must also contain >= l distinct sensitive values (account-balance "
    "band, l=3). Output: every class with its size, its distinct-"
    "sensitive count, the at_risk flag, and the corpus-level exact-"
    "integer ppm of rows in non-diverse classes — the release-gate "
    "scalar. Plan: one two-level hash aggregate (the distinct rides the "
    "same exchange as the class rollup: group by (QI, sensitive) then "
    "QI) + a class-table-sized window; at 100 TB the class table is "
    "bounded by the QI domain product, so the audit is scan-bound, "
    "exactly like its k-anonymity sibling. NULL balances form their own "
    "band and COUNT as a sensitive value on both engines (COUNT "
    "DISTINCT skips NULL in both — a class of only-NULL bands reports "
    "n_sensitive = 0 identically).",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    cls = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("nationkey", "mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("bal_band").cast("bigint").alias("n_sensitive"),
        )
    )
    return cls.select(
        "nationkey",
        "mktsegment",
        "n_rows",
        "n_sensitive",
        (F.col("n_sensitive") < LDIV_L).alias("at_risk"),
        F.expr(
            f"CAST((CAST(SUM(CASE WHEN n_sensitive < {LDIV_L} THEN n_rows"
            " ELSE 0 END) OVER () AS BIGINT) * 1000000)"
            " div CAST(SUM(n_rows) OVER () AS BIGINT) AS BIGINT)"
        ).alias("risk_ppm"),
    )


#: Per-source token budget for quality-ranked selection.
SELECT_BUDGET = 800


@register(
    "q_budget_select",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT doc_id, source,
               CAST(len(w) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS quality
        FROM docs
    ),
    ranked AS (
        SELECT *,
               SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS tok_before
        FROM scored
    ),
    sel AS (
        SELECT *, COALESCE(tok_before, 0) < {SELECT_BUDGET} AS selected
        FROM ranked
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
           CAST(SUM(CASE WHEN selected THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_selected,
           CAST(FLOOR(MIN(CASE WHEN selected THEN quality END) * 1000000
                      + 0.5) AS BIGINT) AS cutoff_quality_micro
    FROM sel GROUP BY source ORDER BY source
    """,
    doc="Quality-ranked token-budget selection — the data-mixing step "
    "that turns classifier scores into an actual training set: within "
    "each source, documents are ranked by quality (unique-token ratio "
    "here; any scored column plugs in) and greedily admitted in rank "
    "order until the source's token budget is exhausted (a doc is "
    "admitted iff the tokens BEFORE it are under budget, so the budget "
    "boundary doc is included — the convention that never returns an "
    "empty selection when the first doc alone exceeds the budget). "
    "Reports per source the selected doc/token mass and the quality "
    "cutoff (micro-exact) — the number that tells you how deep into "
    "the quality distribution the budget forces you (cf. the "
    "quality-vs-quantity tradeoff curves in Longpre et al. 2023). "
    "Distinct from q_mixture_epochs (which reweights whole sources) "
    "and q_quality_classifier (which scores but does not select under "
    "a budget). Plan: one map to score (JVM higher-order distinct "
    "ratio), one source-partitioned running-sum window, one 20-group "
    "rollup — a single data-proportional shuffle on source; skewed "
    "sources are exactly the q_salted_agg situation and would salt the "
    "same way. Ties in quality break by doc_id; the quality double is "
    "the same exact division in both engines, so the rank order is "
    "bit-identical.",
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.text import spread_scan

    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    w = F.split("text", " ", -1)
    scored = d.select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("n_tok"),
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("quality"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = scored.select(
        "source",
        "n_tok",
        "quality",
        (F.coalesce(F.sum("n_tok").over(win), F.lit(0)) < SELECT_BUDGET).alias(
            "selected"
        ),
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("selected").cast("int")).cast("bigint").alias("n_selected"),
            F.sum(F.when(F.col("selected"), F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tokens_selected"),
            F.floor(
                F.min(F.when(F.col("selected"), F.col("quality"))) * 1000000 + 0.5
            )
            .cast("bigint")
            .alias("cutoff_quality_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals (error bars in one scan)
# --------------------------------------------------------------------------

#: Bootstrap replica count.
BOOT_B = 32

#: Poisson(1) CDF thresholds on the 60-bit hash grid: a replica weight
#: is w = |{j : h >= t_j}| (0..7, the >=7 tail folded into 7). The
#: table is computed ONCE here in Python and inlined as identical
#: bigint literals into BOTH engines (the q_dp_histogram discipline:
#: determinism comes from the shared literals, so neither engine ever
#: evaluates a transcendental at query time).
def _poisson1_thresholds() -> list[int]:
    import math

    out, acc, term = [], 0.0, math.exp(-1.0)
    for j in range(7):
        acc += term
        out.append(int(acc * (1 << 60)))
        term /= j + 1
    return out


BOOT_THRESHOLDS = _poisson1_thresholds()

_BOOT_TS = ", ".join(str(t) for t in BOOT_THRESHOLDS)


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents WHERE text IS NOT NULL
    ),
    rep AS (
        SELECT source, doc_id, x, unnest(range(0, {BOOT_B})) AS b FROM d
    ),
    wtd AS (
        SELECT source, b, x,
               len(list_filter([{_BOOT_TS}],
                   t -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                         || CAST(b AS VARCHAR)), 1, 15))::BIGINT >= t)) AS w
        FROM rep
    ),
    rm AS (
        SELECT source, b,
               CAST(SUM(w * x) * 1000000 // SUM(w) AS BIGINT) AS m
        FROM wtd GROUP BY source, b HAVING SUM(w) > 0
    ),
    ci AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_replicas,
               (list(m ORDER BY m))[LEAST(2, COUNT(*))] AS ci_lo_micro,
               (list(m ORDER BY m))[GREATEST(COUNT(*) - 1, 1)] AS ci_hi_micro
        FROM rm GROUP BY source
    ),
    full_mean AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(x) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro
        FROM d GROUP BY source
    )
    SELECT f.source, f.n_docs, f.mean_micro,
           c.ci_lo_micro, c.ci_hi_micro, c.n_replicas
    FROM full_mean f JOIN ci c ON f.source = c.source
    """,
    doc="Poisson-bootstrap confidence interval for the per-source mean "
    "token count — error bars on a corpus statistic in ONE scan, the "
    "way a 100 TB pipeline must bootstrap (resampling-with-replacement "
    "by index is a shuffle per replica; the Poisson(1)-weight "
    "approximation is the standard streaming form). Each (doc, "
    "replica) weight is drawn from an inverse-CDF walk of a 7-entry "
    "Poisson(1) threshold table on the 60-bit md5 hash of (doc_id, b) "
    "— the table computed once in Python and inlined as identical "
    "bigint literals into both engines (the q_dp_histogram no-"
    "transcendentals-at-query-time discipline), so every weight, "
    "replica mean (exact integer micro units) and rank-based interval "
    "endpoint (2nd / B-1th order statistic of the 32 replica means — "
    "rank-based, never an interpolated percentile) is engine-exact. "
    "Plan: one explode x32 over the doc table, two hash aggs, order "
    "stats over 32-element arrays — scan-shaped at any corpus size.",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.size(F.split("text", " ", -1)).cast("bigint").alias("x"),
        )
    )
    from parquet_compactor_spark.llm.text import spread_scan

    # The 32x explode + per-replica md5 below is x100+ compute per
    # scanned byte; the sf-scale documents table is a single parquet
    # file (one scan task), so spread the narrow projection first.
    rep = spread_scan(d).select(
        "source",
        "doc_id",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    h = (
        "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
        "cast(b as string))), 1, 15), 16, 10) as bigint)"
    )
    # Bind the replica hash to a column BEFORE the threshold fold: a
    # derived expression referenced INSIDE a higher-order-function
    # lambda is re-evaluated per element (the round-11 no-CSE trap), so
    # the inlined form computed the md5 7x per (doc, b) row — once per
    # Poisson threshold. The bound attribute is evaluated once per row;
    # the fold compares the identical bigint against the same literals.
    wtd = rep.withColumn("h", F.expr(h)).select(
        "source",
        "b",
        "x",
        F.expr(
            f"aggregate(array({_BOOT_TS}), 0, "
            f"(acc, t) -> acc + IF(h >= t, 1, 0))"
        ).alias("w"),
    )
    rm = (
        wtd.groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "source",
            F.expr("CAST(swx * 1000000 div sw AS BIGINT)").alias("m"),
        )
    )
    ci = rm.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.array_sort(F.collect_list("m")).alias("arr"),
    ).select(
        "source",
        "n_replicas",
        F.element_at(
            "arr", F.least(F.lit(2), F.size("arr")).cast("int")
        ).alias("ci_lo_micro"),
        F.element_at(
            "arr", F.greatest(F.size("arr") - 1, F.lit(1)).cast("int")
        ).alias("ci_hi_micro"),
    )
    full_mean = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(x) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "mean_micro"
        ),
    )
    return full_mean.join(ci, "source").select(
        "source", "n_docs", "mean_micro", "ci_lo_micro", "ci_hi_micro", "n_replicas"
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (exact-integer CDFs)
# --------------------------------------------------------------------------

#: c(alpha)^2 * 1e6 for alpha = 0.05 (c = 1.358). Only the CRITICAL
#: VALUE uses a float path (one sqrt — IEEE-754 requires sqrt to be
#: correctly rounded, so both engines produce the identical double from
#: identical inputs); the statistic itself is exact integers.
KS_C_MICRO = 1358000


@register(
    "q_ks_test",
    oracle=f"""
    WITH d AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'new' ELSE 'old' END AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents WHERE text IS NOT NULL
    ),
    g AS (
        SELECT x,
               CAST(SUM(CASE WHEN shard = 'old' THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
               CAST(SUM(CASE WHEN shard = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS c_new
        FROM d GROUP BY x
    ),
    c AS (
        SELECT x,
               SUM(c_old) OVER (ORDER BY x) AS f_old,
               SUM(c_new) OVER (ORDER BY x) AS f_new
        FROM g
    ),
    t AS (
        SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
               CAST(SUM(c_new) AS BIGINT) AS n_new
        FROM g
    ),
    s AS (
        SELECT MAX(ABS(f_old * t.n_new - f_new * t.n_old)) AS d_num
        FROM c, t GROUP BY t.n_old, t.n_new
    )
    SELECT t.n_old, t.n_new,
           CAST(s.d_num * 1000000 // (t.n_old * t.n_new) AS BIGINT) AS d_ppm,
           CAST(FLOOR({KS_C_MICRO} * SQRT(
                    CAST(t.n_old + t.n_new AS DOUBLE)
                    / (CAST(t.n_old AS DOUBLE) * CAST(t.n_new AS DOUBLE)))
                + 0.5) AS BIGINT) AS crit_ppm,
           s.d_num * 1000000 // (t.n_old * t.n_new)
               >= CAST(FLOOR({KS_C_MICRO} * SQRT(
                      CAST(t.n_old + t.n_new AS DOUBLE)
                      / (CAST(t.n_old AS DOUBLE) * CAST(t.n_new AS DOUBLE)))
                  + 0.5) AS BIGINT) AS drifted
    FROM s, t
    WHERE t.n_old > 0 AND t.n_new > 0
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test between the old "
    "(doc_id % 3 != 0) and new crawl shards over the token-count "
    "distribution — the NONPARAMETRIC complement to q_dist_drift's "
    "binned PSI (KS needs no bucket grid and is sensitive to any CDF "
    "separation, not just mass shifts across fixed bins). The "
    "statistic is EXACT integers end to end: per-value counts, "
    "cumulative sums over the merged value grid, and the sup as "
    "max |F_old*n_new - F_new*n_old| — cross-multiplied instead of "
    "divided, so no floor-rounding can move the argmax — scaled to "
    "ppm once at the end. Only the alpha=0.05 critical value "
    "c*sqrt((n+m)/nm) touches a float: ONE sqrt, correctly rounded by "
    "IEEE-754 in both engines, micro-floored. Plan: one scan, one "
    "value-grid agg, one cumulative window over the (bounded, "
    "value-cardinality-sized) grid, a 1-row reduce. At 100 TB the "
    "int64 cross-product n_old*n_new bounds the corpus at ~3e9 per "
    "shard; past that the two products upgrade to DECIMAL(38,0) with "
    "no other change.",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit("new"))
            .otherwise(F.lit("old"))
            .alias("shard"),
            F.size(F.split("text", " ", -1)).cast("bigint").alias("x"),
        )
    )
    g = d.groupBy("x").agg(
        F.sum(F.when(F.col("shard") == "old", 1).otherwise(0))
        .cast("bigint")
        .alias("c_old"),
        F.sum(F.when(F.col("shard") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("c_new"),
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("c_old").over(wcum).alias("f_old"),
        F.sum("c_new").over(wcum).alias("f_new"),
    )
    t = g.agg(
        F.sum("c_old").cast("bigint").alias("n_old"),
        F.sum("c_new").cast("bigint").alias("n_new"),
    )
    s = (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.max(
                F.abs(
                    F.col("f_old") * F.col("n_new")
                    - F.col("f_new") * F.col("n_old")
                )
            ).alias("d_num")
        )
    )
    crit = (
        f"CAST(FLOOR({KS_C_MICRO} * SQRT("
        "CAST(n_old + n_new AS DOUBLE)"
        " / (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE))) + 0.5) AS BIGINT)"
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "n_old",
            "n_new",
            F.expr(
                "CAST(d_num * 1000000 div (n_old * n_new) AS BIGINT)"
            ).alias("d_ppm"),
            F.expr(crit).alias("crit_ppm"),
        )
        .withColumn("drifted", F.col("d_ppm") >= F.col("crit_ppm"))
        # Degenerate-corpus guard: if either shard is empty the integer
        # div yields NULL on Spark but a div-by-zero/inf path in DuckDB
        # — emit no row identically on both engines instead.
        .filter((F.col("n_old") > 0) & (F.col("n_new") > 0))
    )


# --------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (C4 / RefinedWeb-style web curation)
# --------------------------------------------------------------------------

#: Tracking-parameter keys stripped by canonical_url — the public
#: click-tracking namespace (utm_*) plus the common per-platform ids.
_TRACKING_PARAM_RE = "^(utm_[^=]*|ref|fbclid|gclid)="


def canonical_url(u: Column) -> Column:
    """Canonicalize a URL column with REAL generic parsing — lowercase
    scheme+authority, strip the scheme's default port (:443 https, :80
    http), strip trailing path slashes (root stays '/'), drop tracking
    params (utm_*/ref/fbclid/gclid), sort surviving query params, drop
    the fragment. All JVM built-ins (parse_url + array filter/sort) —
    no Python, no shuffle; the canonical key then drives URL-level
    dedup the way RefinedWeb dedups by URL before any text pass.

    The filter lambda touches only its own element variable (the split
    array is the higher-order input, evaluated once) — no derived-array
    re-evaluation inside the lambda body (the no-CSE trap)."""
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    auth = F.lower(F.parse_url(u, F.lit("AUTHORITY")))
    auth = (
        F.when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .otherwise(auth)
    )
    path = F.regexp_replace(
        F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit("")), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit("")), "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def synth_messy_url(n: Column, m: Column, source: Column) -> Column:
    """The deterministic messy-URL closed form for q_url_dedup — one
    recipe shared by the Spark side and the DuckDB oracle (which
    replays the CANONICAL form directly from the same parameters, so
    the differential checks the real parser+canonicalizer against an
    independent computation — the URL twin of q_video_meta's recipe).

    ``n`` keys everything that SURVIVES canonicalization (scheme value
    %5, the :8080 non-default port %11, the path id %100, the real
    query params %2/%7); ``m`` keys MESSINESS ONLY (scheme/host casing
    %3/%2, a default port to strip %7, a trailing slash %4, tracking
    params %3/%5, query-param order %2, a fragment %2) — so two rows
    with equal ``n`` and different ``m`` are exactly the C4 situation:
    distinct raw URLs that MUST collapse to one canonical key."""
    scheme_val = F.when(n % 5 == 0, F.lit("http")).otherwise(F.lit("https"))
    scheme = F.when(m % 3 == 0, F.upper(scheme_val)).otherwise(scheme_val)
    host = F.concat(
        source,
        F.when(m % 2 == 0, F.lit(".Example.ORG")).otherwise(
            F.lit(".example.org")
        ),
    )
    port = (
        F.when(n % 11 == 0, F.lit(":8080"))
        .when(
            m % 7 == 0,
            F.when(scheme_val == "https", F.lit(":443")).otherwise(
                F.lit(":80")
            ),
        )
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/articles/"),
        (n % 100).cast("string"),
        F.when(m % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    id_param = F.concat(F.lit("id="), n.cast("string"))
    page_param = F.when(
        n % 2 == 0, F.concat(F.lit("&page="), (n % 7).cast("string"))
    ).otherwise(F.lit(""))
    real_params = F.when(
        (m % 2 == 0) & (n % 2 == 0),
        F.concat(
            F.concat(F.lit("page="), (n % 7).cast("string")),
            F.lit("&"),
            id_param,
        ),
    ).otherwise(F.concat(id_param, page_param))
    query = F.concat(
        F.lit("?"),
        F.when(m % 3 == 0, F.lit("utm_source=feed&")).otherwise(F.lit("")),
        real_params,
        F.when(m % 5 == 0, F.lit("&ref=tw")).otherwise(F.lit("")),
    )
    frag = F.when(
        m % 2 == 1, F.concat(F.lit("#sec"), (m % 3).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


#: q_url_dedup's DuckDB oracle — the canonical form computed DIRECTLY
#: from the synth parameters (never by re-parsing), so the Spark side's
#: parse_url+canonical_url chain is checked against an independent
#: derivation. Registration deferred to round 15 alongside q_audio_meta
#: (window budgeting — registry.py); tests run the same differential.
URL_DEDUP_ORACLE = """
    WITH p AS (
        SELECT doc_id, n_chars AS n,
               CASE WHEN n_chars % 5 = 0 THEN 'http' ELSE 'https' END
                   AS scheme,
               lower(source) || '.example.org' AS host,
               CASE WHEN n_chars % 11 = 0 THEN ':8080' ELSE '' END AS port,
               '/articles/' || CAST(n_chars % 100 AS VARCHAR) AS path,
               'id=' || CAST(n_chars AS VARCHAR) ||
               CASE WHEN n_chars % 2 = 0
                    THEN '&page=' || CAST(n_chars % 7 AS VARCHAR)
                    ELSE '' END AS q
        FROM documents
    ), c AS (
        SELECT doc_id, host,
               scheme || '://' || host || port || path || '?' || q
                   AS canonical
        FROM p
    )
    SELECT doc_id, host, canonical,
           doc_id = MIN(doc_id) OVER (PARTITION BY canonical) AS is_kept
    FROM c
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup decision (C4 / RefinedWeb curate-by-URL): per
    document, synthesize the deterministic messy URL, canonicalize it
    with the REAL parser chain (:func:`canonical_url` — lowercase,
    default-port strip, trailing-slash strip, tracking-param drop,
    param sort, fragment drop), and keep the first doc_id per
    canonical key. One hash shuffle on the canonical key (window min)
    — never all-pairs; at 100 TB the canonical key is the natural
    partition key for the whole web-curation stage.

    REGISTRATION DEFERRED to round 15 (window budgeting — see
    registry.py's round-15 plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.lower(
            F.concat(F.col("source"), F.lit(".example.org"))
        ).alias("host"),
        canonical_url(
            synth_messy_url(
                F.col("n_chars"), F.col("doc_id"), F.col("source")
            )
        ).alias("canonical"),
    )
    w = Window.partitionBy("canonical")
    return urls.select(
        "doc_id",
        "host",
        "canonical",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# robots.txt admission (RFC 9309): the respects-robots curation decision.
# ---------------------------------------------------------------------------


def parse_robots(text: str) -> list[tuple[list[str], list[tuple[bool, str]]]]:
    """Parse a robots.txt document into groups per RFC 9309: each group
    is (user-agent product tokens, ordered [(is_allow, path_pattern)]
    rules). Handles the public grammar's real-world shape: directive
    names are case-insensitive, ``#`` starts a comment anywhere on a
    line, consecutive ``User-agent`` lines share one group, unknown
    directives (Crawl-delay, Sitemap, ...) are skipped, and an EMPTY
    Disallow value (the classic "allow everything" idiom) contributes
    no rule. Pure function — runs inside the Arrow batch map at the
    lake seam, parsed once per host and cached."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    collecting_agents = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not collecting_agents:
                if agents:
                    groups.append((agents, rules))
                agents, rules = [], []  # drops any headerless orphans too
            agents.append(value.lower())
            collecting_agents = True
        elif key in ("allow", "disallow"):
            collecting_agents = False
            # RFC 9309: rules OUTSIDE any group (before the first
            # User-agent line) are ignored, not attached to the next
            # group — malformed real-world files hit this constantly.
            if value and agents:
                rules.append((key == "allow", value))
        else:
            collecting_agents = False
    if agents:
        groups.append((agents, rules))
    return groups


def robots_sitemap_urls(text: str) -> list[str]:
    """Sitemap discovery from robots.txt — the ``Sitemap:`` directive
    (sitemaps.org's cross-reference extension, echoed by RFC 9309 as an
    other-record example). Unlike group rules it is GLOBAL: valid
    anywhere in the file, independent of User-agent groups. Returns the
    declared sitemap URLs in file order, de-duplicated, keeping only
    full scheme URLs (the protocol requires absolute URLs here);
    comments and casing follow the same grammar as :func:`parse_robots`.
    Feed the result to :func:`parse_sitemap` via the fetch seam and the
    frontier composition robots -> sitemap -> canonical_url closes.
    """
    out: list[str] = []
    seen: set[str] = set()
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, value = line.partition(":")
        if key.strip().lower() != "sitemap":
            continue
        url = value.strip()
        if not _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", url):
            continue  # the directive requires an absolute URL; skip junk
        if url not in seen:
            seen.add(url)
            out.append(url)
    return out


def _robots_pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 path matching: literal octets, ``*`` matches any
    sequence, a trailing ``$`` anchors the end; patterns match from the
    path start. Compiled to a regex so ``*`` BACKTRACKS — a greedy
    first-occurrence scan falsely rejects e.g. ``/*.php$`` against
    ``/x.php/y.php`` (the anchor must be allowed to bind the LAST
    occurrence)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    rx = ".*".join(_re.escape(part) for part in pattern.split("*"))
    if anchored:
        rx += "$"
    return _re.match(rx, path) is not None


def robots_decision(
    groups: list[tuple[list[str], list[tuple[bool, str]]]],
    agent: str,
    path: str,
) -> tuple[bool, str | None]:
    """(allowed, matched_pattern) for ``agent`` fetching ``path`` per
    RFC 9309: the group naming the agent's product token (lowercased
    exact) applies; otherwise the ``*`` group; no group at all means
    allowed. Within the group, the MOST SPECIFIC match wins — longest
    pattern in octets, the ``$`` anchor not counted — and an
    allow/disallow tie at equal length resolves to ALLOW."""
    agent = agent.lower()
    chosen: list[tuple[bool, str]] | None = None
    for agents, rules in groups:
        if agent in agents:
            chosen = rules
            break
    if chosen is None:
        for agents, rules in groups:
            if "*" in agents:
                chosen = rules
                break
    if chosen is None:
        return True, None
    best: tuple[int, int, str] | None = None  # (specificity, allow, pattern)
    for is_allow, pattern in chosen:
        if _robots_pattern_matches(pattern, path):
            spec = len(pattern.rstrip("$"))
            key = (spec, 1 if is_allow else 0)
            if best is None or key > (best[0], best[1]):
                best = (spec, 1 if is_allow else 0, pattern)
    if best is None:
        return True, None
    return bool(best[1]), best[2]


def synth_robots(s: int, host: str) -> str:
    """Deterministic robots.txt for the md5-derived source key ``s`` —
    the closed form ROBOTS_ORACLE replays. The wildcard-star group
    disallows paths whose article id starts with digit s%10 but
    allow-anchors the exact two-digit id (s%10)(s//10%10) — exercising
    prefix match, $ anchor, and longest-match-with-allow-tie; on
    s%4==0 a trainingbot-specific group disallows everything,
    exercising specific-group precedence. Comments, casing, blank
    lines, and unknown directives exercise the parser's grammar."""
    d1, d2 = s % 10, (s // 10) % 10
    lines = [
        f"# synthetic robots for {host}",
        "User-Agent: *",
        f"Disallow: /articles/{d1}  # block the {d1}-prefixed ids",
        f"Allow: /articles/{d1}{d2}$",
        "Disallow: /tmp/*",
        "Crawl-delay: 10",
        "",
    ]
    if s % 4 == 0:
        lines += ["User-agent: TrainingBot", "Disallow: /"]
    return "\n".join(lines)


#: q_robots_admission's DuckDB oracle — the synth_robots decision
#: closed form: the trainingbot group (s%4==0) blocks all; otherwise
#: the exact-id allow anchor beats the prefix disallow (longer
#: pattern); otherwise the prefix disallow blocks ids whose decimal
#: rendering starts with digit s%10. s is the 24-bit md5 slice of
#: source, the portable-hash convention.
ROBOTS_ORACLE = """
    WITH p AS (
        SELECT doc_id,
               lower(source) || '.example.org' AS host,
               '/articles/' || CAST(n_chars % 100 AS VARCHAR) AS path,
               ('0x' || substr(md5(source), 1, 6))::BIGINT AS s,
               n_chars % 100 AS nid
        FROM documents
    ), q AS (
        SELECT *,
               s % 10 AS d1, (s // 10) % 10 AS d2,
               s % 4 = 0 AS blocked_all,
               CAST(nid AS VARCHAR) LIKE CAST(s % 10 AS VARCHAR) || '%'
                   AS dis_match,
               s % 10 > 0 AND nid = 10 * (s % 10) + (s // 10) % 10
                   AS allow_match
        FROM p
    )
    SELECT doc_id, host, path,
           NOT blocked_all AND (allow_match OR NOT dis_match) AS admitted,
           CASE WHEN blocked_all THEN '/'
                WHEN allow_match THEN
                    '/articles/' || CAST(d1 AS VARCHAR) ||
                    CAST(d2 AS VARCHAR) || '$'
                WHEN dis_match THEN '/articles/' || CAST(d1 AS VARCHAR)
                ELSE NULL END AS matched_rule
    FROM q
"""


def q_robots_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL admission (the respects-robots curation stage):
    per document, the source host's robots.txt (REAL deterministic
    text) is parsed with the REAL RFC 9309 parser and the document's
    URL path is admitted or blocked by longest-match precedence —
    specific-agent group first, ``$`` anchors, allow-wins-ties.
    ``ROBOTS_ORACLE`` replays the decision closed form. Map-only, no
    shuffle: rules are parsed ONCE PER HOST inside each Arrow batch
    (cached dict), the per-URL match is string work — exactly how a
    100 TB crawl curation stage runs it, with the robots fetch
    replaced by the lake's per-host robots snapshot column.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    import hashlib

    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def batches(it):
        cache: dict[str, list] = {}
        for pdf in it:
            out = []
            for doc_id, source, n_chars in zip(
                pdf["doc_id"], pdf["source"], pdf["n_chars"]
            ):
                host = str(source).lower() + ".example.org"
                if source not in cache:
                    s = int(
                        hashlib.md5(str(source).encode()).hexdigest()[:6], 16
                    )
                    cache[source] = parse_robots(synth_robots(s, host))
                path = f"/articles/{int(n_chars) % 100}"
                allowed, matched = robots_decision(
                    cache[source], "trainingbot", path
                )
                out.append((doc_id, host, path, allowed, matched))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array([r[0] for r in out], dtype="int64"),
                    "host": pd.array([r[1] for r in out], dtype="string"),
                    "path": pd.array([r[2] for r in out], dtype="string"),
                    "admitted": pd.array(
                        [r[3] for r in out], dtype="boolean"
                    ),
                    "matched_rule": pd.array(
                        [r[4] for r in out], dtype="string"
                    ),
                }
            )

    return d.mapInPandas(
        batches,
        schema=(
            "doc_id bigint, host string, path string, admitted boolean, "
            "matched_rule string"
        ),
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction: link-density boilerplate removal — the
# first content stage of every web-crawl training pipeline.
# ---------------------------------------------------------------------------

import re as _re

_HTML_BLOCK_SPLIT = _re.compile(
    r"(?is)</(?:p|div|nav|footer|header|li|h[1-6]|td|section|article|"
    r"blockquote|pre)>"
)
_HTML_SCRIPT_STYLE = _re.compile(
    r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>"
)
_HTML_COMMENT = _re.compile(r"(?s)<!--.*?-->")
#: A '<' opens a tag only when followed by a tag-name start, '/', '!'
#: or '?' (the HTML5 tokenizer rule) — a raw unescaped '<' in prose
#: ("x < y") stays text instead of eating everything to the next '>'.
_HTML_TAG = _re.compile(r"(?s)<[a-zA-Z/!?][^>]*>")
_HTML_ANCHOR = _re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
_HTML_TITLE = _re.compile(r"(?is)<title\b[^>]*>(.*?)</title\s*>")
_HTML_BODY = _re.compile(r"(?is)<body\b[^>]*>(.*?)(?:</body\s*>|\Z)")

_HTML_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
}


def _decode_entities(s: str) -> str:
    def sub(m: "_re.Match[str]") -> str:
        name = m.group(1)
        if name.startswith("#"):
            try:
                code = int(name[2:], 16) if name[1:2] in ("x", "X") else int(name[1:])
                return chr(code) if 0 < code < 0x110000 else m.group(0)
            except ValueError:
                return m.group(0)
        return _HTML_ENTITIES.get(name.lower(), m.group(0))

    return _re.sub(r"&(#?\w+);", sub, s)


def _visible_text(fragment: str) -> str:
    """Tag-stripped, entity-decoded, whitespace-normalized text."""
    return " ".join(_decode_entities(_HTML_TAG.sub(" ", fragment)).split())


def extract_main_text(
    html: str, min_chars: int = 20, max_density_num: int = 1, max_density_den: int = 3
) -> dict:
    """Main-content extraction by LINK-DENSITY boilerplate removal (the
    jusText / Boilerpipe / trafilatura family's core heuristic, in its
    deterministic integer form): strip comments and script/style
    subtrees, split the body into block-level segments, and KEEP a
    block iff its visible text reaches ``min_chars`` AND its
    anchor-text share satisfies ``link_chars * den <= total_chars *
    num`` is False... i.e. blocks where links dominate (nav bars,
    footers, ad units) are dropped by the exact rational test
    ``link_chars * max_density_den <= total_chars * max_density_num``
    — no float thresholds, so the decision replays bit-for-bit in any
    engine. Returns title, per-block counts, and the kept text joined
    with newlines (the pretraining-ready payload)."""
    m = _HTML_TITLE.search(html)
    title = _visible_text(m.group(1)) if m else None
    body_m = _HTML_BODY.search(html)
    body = body_m.group(1) if body_m else html
    body = _HTML_COMMENT.sub(" ", _HTML_SCRIPT_STYLE.sub(" ", body))
    kept: list[str] = []
    n_blocks = 0
    for frag in _HTML_BLOCK_SPLIT.split(body):
        text = _visible_text(frag)
        if not text:
            continue
        n_blocks += 1
        link_chars = sum(
            len(_visible_text(a)) for a in _HTML_ANCHOR.findall(frag)
        )
        if len(text) < min_chars:
            continue
        if link_chars * max_density_den > len(text) * max_density_num:
            continue
        kept.append(text)
    joined = "\n".join(kept)
    return {
        "title": title,
        "n_blocks": n_blocks,
        "n_kept": len(kept),
        "kept_chars": len(joined),
        "kept_text": joined,
    }


def synth_html(n: int) -> str:
    """Deterministic web page for a payload of ``n`` bytes — the closed
    form HTML_EXTRACT_ORACLE replays. Content: 1 + n%4 paragraphs of
    deterministic words. Boilerplate the extractor must drop: a short
    nav (length rule), a link-dominated ads div on %3 and footer
    (density rule — long enough to pass the length rule), a tiny
    paragraph on %5 (length rule), plus script/style subtrees and a
    comment containing fake block tags (must not split blocks), and an
    entity in the title."""
    k = 1 + n % 4
    paras = "".join(
        "<p>"
        + " ".join(f"w{n}x{i}y{j}" for j in range(5 + (n + i) % 20))
        + "</p>"
        for i in range(k)
    )
    ads = (
        '<div><a href="/buy">Buy now</a> <a href="/deal">Big deal</a> today</div>'
        if n % 3 == 0
        else ""
    )
    tiny = "<p>tiny text</p>" if n % 5 == 0 else ""
    return (
        f"<html><head><title>Doc {n % 1000} &amp; Co</title>"
        f"<style>p {{margin:0}}</style>"
        f"<script>var x = {n}; // <p>ghost</p></script></head><body>"
        '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
        + paras
        + ads
        + tiny
        + "<!-- comment with <p>ghost</p> fake tags -->"
        + '<footer><a href="/tos">Terms of service</a> '
        + '<a href="/privacy">Privacy policy</a> '
        + '<a href="/contact">Contact enterprise sales</a> (c) 2026</footer>'
        + "</body></html>"
    )


#: q_html_extract's DuckDB oracle — reconstructs the EXACT kept text
#: (nested list_transform lambdas over the word grid) and md5s it, so
#: the differential proves the real extractor returns byte-identical
#: content, not just matching counts.
HTML_EXTRACT_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), p AS (
        SELECT doc_id, n, 1 + n % 4 AS k,
               array_to_string(
                   list_transform(range(0, 1 + n % 4), i ->
                       array_to_string(
                           list_transform(range(0, 5 + (n + i) % 20), j ->
                               'w' || CAST(n AS VARCHAR) || 'x' ||
                               CAST(i AS VARCHAR) || 'y' ||
                               CAST(j AS VARCHAR)),
                           ' ')),
                   chr(10)) AS kept
        FROM t
    )
    SELECT doc_id,
           'Doc ' || CAST(n % 1000 AS VARCHAR) || ' & Co' AS title,
           CAST(2 + k + CASE WHEN n % 3 = 0 THEN 1 ELSE 0 END
                      + CASE WHEN n % 5 = 0 THEN 1 ELSE 0 END AS INT)
               AS n_blocks,
           CAST(k AS INT) AS n_kept,
           CAST(strlen(kept) AS BIGINT) AS kept_chars,
           md5(kept) AS kept_md5
    FROM p
"""


HTML_EXTRACT_SCHEMA = (
    "doc_id bigint, title string, n_blocks int, n_kept int, "
    "kept_chars bigint, kept_md5 string"
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction: per row, a REAL web page (nav,
    content paragraphs, ad/footer link farms, script/style subtrees,
    comments, entities) is synthesized from the payload's byte length
    and the REAL extractor (:func:`extract_main_text`) pulls the main
    content by the exact-rational link-density rule;
    ``HTML_EXTRACT_ORACLE`` reconstructs the kept text independently
    and the md5 must match byte-for-byte. Map-only, no shuffle — at
    100 TB this is the first content stage after the WARC scan, and
    its output column feeds q_text_stats/q_gopher_rules directly.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    import hashlib

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    def page(n: int) -> dict:
        m = extract_main_text(synth_html(n))
        return dict(m, kept_md5=hashlib.md5(m["kept_text"].encode()).hexdigest())

    return extract(payloads, page, HTML_EXTRACT_SCHEMA, col="n")


# ---------------------------------------------------------------------------
# WARC (ISO 28500) record parsing: the CommonCrawl container — the step
# BEFORE robots/URL/HTML curation in a real web-training pipeline.
# ---------------------------------------------------------------------------


def synth_warc_params(n: int) -> dict:
    """Deterministic WARC parameters for a payload of ``n`` bytes — one
    closed form shared by the encoder, the parser's expected output,
    and the DuckDB oracle (q_warc_records). Residues sweep the parse
    paths: member-gzip framing (%3 — the CommonCrawl per-record-gzip
    layout, decoded via stdlib zlib multi-member), record count (%5),
    per-record HTTP status (404 on (n+i)%7), and the leading warcinfo
    record every real WARC carries."""
    k = 1 + n % 5
    return {
        "gzipped": n % 3 == 0,
        "n_records": k,  # response records; +1 warcinfo on the wire
        "statuses": [404 if (n + i) % 7 == 0 else 200 for i in range(k)],
        "uris": [
            f"https://src.example.org/articles/{(n + i) % 100}"
            for i in range(k)
        ],
        "payloads": [
            f"payload {n} {i} " * (1 + (n + i) % 4) for i in range(k)
        ],
    }


_WARCINFO_BODY = "software: spark-compactor-engine\r\n"


def _synth_warc(n: int) -> bytes:
    """A REAL (ISO 28500 layout) WARC file for :func:`synth_warc_params`
    of ``n``: a warcinfo record then response records, each framed by
    Content-Length with the mandatory CRLF CRLF record separator; on
    the %3 residue every record is an INDIVIDUAL gzip member
    (concatenated — the CommonCrawl layout that lets a reader seek to
    any record)."""
    import zlib

    p = synth_warc_params(n)

    def record(warc_type: str, headers: list[str], body: bytes) -> bytes:
        head = (
            [f"WARC/1.1", f"WARC-Type: {warc_type}"]
            + headers
            + [f"Content-Length: {len(body)}"]
        )
        return (
            "\r\n".join(head).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
        )

    records = [
        record(
            "warcinfo",
            ["WARC-Date: 2026-08-16T12:00:00Z"],
            _WARCINFO_BODY.encode(),
        )
    ]
    for i in range(p["n_records"]):
        status = p["statuses"][i]
        reason = "OK" if status == 200 else "Not Found"
        http = (
            f"HTTP/1.1 {status} {reason}\r\n"
            "Content-Type: text/html\r\n"
            "\r\n"
        ).encode() + p["payloads"][i].encode()
        records.append(
            record(
                "response",
                [
                    f"WARC-Target-URI: {p['uris'][i]}",
                    f"WARC-Date: 2026-08-16T12:00:{(n + i) % 60:02d}Z",
                    "Content-Type: application/http;msgtype=response",
                ],
                http,
            )
        )
    if p["gzipped"]:
        out = b""
        for r in records:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)  # 31 = gzip wrapper
            out += co.compress(r) + co.flush()
        return out
    return b"".join(records)


def parse_warc(payload: bytes) -> list[dict]:
    """Real WARC (ISO 28500) record parse — pure Python: detects and
    inflates member-gzip framing (stdlib zlib, multi-member loop — the
    CommonCrawl layout), walks Content-Length-framed records, parses
    each response record's HTTP status line and headers. Returns one
    dict per record: warc_type, uri, http_status, mime, payload_chars
    (NULLs for non-response records). Loud ValueError on structural
    corruption: bad WARC version line, missing Content-Length, body
    overrun, missing record separator, corrupt gzip stream."""
    import zlib

    buf = bytes(payload)
    if buf[:2] == b"\x1f\x8b":  # gzip member(s)
        out = bytearray()
        pos = 0
        while pos < len(buf):
            d = zlib.decompressobj(31)
            try:
                out += d.decompress(buf[pos:])
            except zlib.error as e:
                raise ValueError(f"corrupt WARC gzip member: {e}") from None
            if not d.eof:
                raise ValueError("truncated WARC gzip member")
            pos = len(buf) - len(d.unused_data)
        buf = bytes(out)
    records: list[dict] = []
    pos = 0
    while pos < len(buf):
        head_end = buf.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("truncated WARC record header")
        head_lines = buf[pos:head_end].decode("utf-8", "replace").split("\r\n")
        if not head_lines[0].startswith("WARC/"):
            raise ValueError("bad WARC version line")
        fields = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        if "content-length" not in fields:
            raise ValueError("WARC record missing Content-Length")
        clen = int(fields["content-length"])
        body_start = head_end + 4
        body_end = body_start + clen
        if body_end + 4 > len(buf):
            raise ValueError("WARC record body overruns payload")
        if buf[body_end : body_end + 4] != b"\r\n\r\n":
            raise ValueError("missing WARC record separator")
        body = buf[body_start:body_end]
        rec = {
            "warc_type": fields.get("warc-type"),
            "uri": fields.get("warc-target-uri"),
            "http_status": None,
            "mime": None,
            "payload_chars": None,
        }
        if rec["warc_type"] == "response":
            http_head_end = body.find(b"\r\n\r\n")
            if http_head_end < 0:
                raise ValueError("response record missing HTTP header block")
            http_lines = body[:http_head_end].decode(
                "utf-8", "replace"
            ).split("\r\n")
            parts = http_lines[0].split(" ", 2)
            if len(parts) < 2 or not parts[0].startswith("HTTP/"):
                raise ValueError("bad HTTP status line in response record")
            rec["http_status"] = int(parts[1])
            for line in http_lines[1:]:
                k, _, v = line.partition(":")
                if k.strip().lower() == "content-type":
                    rec["mime"] = v.strip()
            rec["payload_chars"] = len(
                body[http_head_end + 4 :].decode("utf-8", "replace")
            )
        records.append(rec)
        pos = body_end + 4
    if not records:
        raise ValueError("empty WARC payload")
    return records


def _indexed(records: list[dict]) -> list[dict]:
    """parse_warc's records with their position in the file as rec_idx."""
    return [dict(r, rec_idx=i) for i, r in enumerate(records)]


def extract_warc_records(df: DataFrame) -> DataFrame:
    """WARC record table over (doc_id, payload: binary)
    — the genuine-lake entry point: one input blob (a WARC file, plain
    or member-gzipped) explodes to one row per contained record; blobs
    that are not parseable WARCs are DROPPED (row-wise degrade). The
    natural upstream of extract_main_text / q_robots_admission /
    q_url_dedup in a crawl pipeline."""
    return extract(
        df,
        lambda b: _indexed(parse_warc(b or b"")),
        WARC_RECORDS_SCHEMA,
        explode=True,
    )


WARC_RECORDS_SCHEMA = (
    "doc_id bigint, rec_idx int, warc_type string, uri string, "
    "http_status int, mime string, payload_chars bigint"
)


#: q_warc_records' DuckDB oracle — the closed form with one row per
#: record via LATERAL UNNEST; payload_chars replays the repeat-count
#: times unit-length arithmetic (digit lengths via strlen of casts).
WARC_RECORDS_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), info AS (
        SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
               CAST(NULL AS VARCHAR) AS uri, CAST(NULL AS INT) AS http_status,
               CAST(NULL AS VARCHAR) AS mime,
               CAST(NULL AS BIGINT) AS payload_chars
        FROM t
    ), resp AS (
        SELECT doc_id, CAST(1 + i AS INT) AS rec_idx,
               'response' AS warc_type,
               'https://src.example.org/articles/' ||
                   CAST((n + i) % 100 AS VARCHAR) AS uri,
               CAST(CASE WHEN (n + i) % 7 = 0 THEN 404 ELSE 200 END AS INT)
                   AS http_status,
               'text/html' AS mime,
               CAST((1 + (n + i) % 4) *
                    (10 + strlen(CAST(n AS VARCHAR)) +
                     strlen(CAST(i AS VARCHAR))) AS BIGINT) AS payload_chars
        FROM t, LATERAL UNNEST(range(0, 1 + n % 5)) AS u(i)
    )
    SELECT * FROM info UNION ALL SELECT * FROM resp
"""


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record table: per row, a REAL ISO 28500 WARC file (warcinfo
    + response records, Content-Length framing, CommonCrawl
    member-gzip on the %3 residue) is synthesized from the payload's
    byte length and the REAL parser (:func:`parse_warc`) explodes it
    back to one row per record; ``WARC_RECORDS_ORACLE`` replays the
    closed form. Map-only with a fan-out (records per blob) — at
    100 TB this is the crawl scan stage feeding q_robots_admission /
    q_url_dedup / q_html_extract.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: _indexed(parse_warc(_synth_warc(n))),
        WARC_RECORDS_SCHEMA,
        col="n",
        explode=True,
    )


# ---------------------------------------------------------------------------
# WebDataset (POSIX ustar) sample grouping: the standard multimodal
# training-shard format — tar members grouped into samples by basename.
# ---------------------------------------------------------------------------


def synth_webdataset_params(n: int) -> dict:
    """Deterministic WebDataset shard parameters for a payload of ``n``
    bytes — the closed form WEBDATASET_ORACLE replays. Residues sweep
    the parse paths: sample count (%4), per-sample member set (every
    sample has .txt; .jpg on (n+i)%2, .json on (n+i)%3 — so samples
    have 1-3 members), member sizes (the 512-byte block padding path),
    a PAX-style directory entry to skip, and the two-block zero
    terminator."""
    k = 2 + n % 4
    samples = []
    for i in range(k):
        key = f"sample{n % 1000}_{i:04d}"
        members = {".txt": 10 + (n + i) % 600}
        if (n + i) % 2 == 0:
            members[".jpg"] = 700 + (n + i) % 900
        if (n + i) % 3 == 0:
            members[".json"] = 2 + (n + i) % 50
        samples.append((key, members))
    return {"n_samples": k, "samples": samples}


def _tar_header(name: str, size: int, typeflag: bytes = b"0") -> bytes:
    """One POSIX ustar header block (512 bytes, octal size fields,
    checksum over the header with the checksum field spaced)."""
    name_b = name.encode()
    header = bytearray(512)
    header[0 : len(name_b)] = name_b
    header[100:108] = b"0000644\x00"
    header[108:116] = b"0000000\x00"
    header[116:124] = b"0000000\x00"
    header[124:136] = f"{size:011o}\x00".encode()
    header[136:148] = f"{0o16400000000:011o}\x00".encode()  # mtime
    header[148:156] = b" " * 8  # checksum field spaces during calc
    header[156:157] = typeflag
    header[257:263] = b"ustar\x00"
    header[263:265] = b"00"
    chk = sum(header)
    header[148:156] = f"{chk:06o}\x00 ".encode()
    return bytes(header)


def _synth_webdataset(n: int) -> bytes:
    """A REAL (POSIX ustar layout) WebDataset shard for
    :func:`synth_webdataset_params` of ``n``: one tar member per
    sample component (``<key><ext>``), 512-byte block padding, a
    directory entry the reader must skip, and the standard two-block
    zero terminator. Member bodies are deterministic filler — the
    fixture is for the GROUPING pipeline, like the other container
    synths."""
    p = synth_webdataset_params(n)
    out = bytearray()
    out += _tar_header("shard/", 0, typeflag=b"5")  # directory entry
    for key, members in p["samples"]:
        for ext in sorted(members):
            size = members[ext]
            out += _tar_header(f"shard/{key}{ext}", size)
            out += b"\xa5" * size  # filler: the grouping pipeline never reads bodies
            if size % 512:
                out += b"\x00" * (512 - size % 512)
    out += b"\x00" * 1024
    return bytes(out)


def parse_webdataset(payload: bytes) -> list[dict]:
    """Real WebDataset parse — a pure-Python POSIX ustar walk (512-byte
    headers, octal sizes, checksum verification, block padding,
    two-zero-block terminator) followed by the WebDataset grouping
    rule: members sharing a basename (everything before the FIRST dot
    of the final path component) form one training sample. Returns one
    dict per sample: key, n_members, exts (dot-joined sorted extension
    list), total_bytes. Directory and other non-file members are
    skipped. Loud ValueError on structural corruption: short header
    block, bad checksum, non-octal size, member overrun, missing
    terminator."""
    buf = bytes(payload)
    pos = 0
    samples: dict[str, dict] = {}
    order: list[str] = []
    while True:
        if pos + 512 > len(buf):
            raise ValueError("truncated tar header block")
        block = buf[pos : pos + 512]
        if block == b"\x00" * 512:
            if buf[pos + 512 : pos + 1024] != b"\x00" * 512:
                raise ValueError("missing tar end-of-archive terminator")
            break
        stored = block[148:156]
        try:
            stored_chk = int(stored.rstrip(b"\x00 ").decode() or "0", 8)
        except ValueError:
            raise ValueError("corrupt tar checksum field") from None
        calc = sum(block[:148]) + 8 * 32 + sum(block[156:])
        if calc != stored_chk:
            raise ValueError("tar header checksum mismatch")
        try:
            size = int(block[124:136].rstrip(b"\x00 ").decode() or "0", 8)
        except ValueError:
            raise ValueError("corrupt tar size field") from None
        name = block[0:100].rstrip(b"\x00").decode("utf-8", "replace")
        typeflag = block[156:157]
        data_start = pos + 512
        data_end = data_start + size
        if data_end > len(buf):
            raise ValueError("tar member overruns payload")
        if typeflag in (b"0", b"\x00"):
            base = name.rsplit("/", 1)[-1]
            key, dot, ext = base.partition(".")
            ext = dot + ext
            s = samples.get(key)
            if s is None:
                s = {"key": key, "n_members": 0, "exts": [], "total_bytes": 0}
                samples[key] = s
                order.append(key)
            s["n_members"] += 1
            s["exts"].append(ext)
            s["total_bytes"] += size
        pos = data_end + (512 - size % 512) % 512
    if not samples:
        raise ValueError("tar archive holds no file members")
    return [
        {
            "key": k,
            "n_members": samples[k]["n_members"],
            "exts": "".join(sorted(samples[k]["exts"])),
            "total_bytes": samples[k]["total_bytes"],
        }
        for k in order
    ]


WEBDATASET_SCHEMA = (
    "doc_id bigint, key string, n_members int, exts string, "
    "total_bytes bigint"
)


def extract_webdataset_samples(df: DataFrame) -> DataFrame:
    """WebDataset sample table over (doc_id, payload:
    binary) — one input shard explodes to one row per SAMPLE (the
    training unit), blobs that are not parseable tars dropping
    row-wise. The shard-level twin of a WebDataset loader's grouping
    pass, as a lake-wide audit: member completeness (exts) and sample
    sizes without ever decoding member contents."""
    return extract(
        df, lambda b: parse_webdataset(b or b""), WEBDATASET_SCHEMA, explode=True
    )


#: q_webdataset_samples' DuckDB oracle — the sample closed form via
#: LATERAL UNNEST (member sets and sizes from the residues).
WEBDATASET_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT doc_id, n, i,
               (n + i) % 2 = 0 AS has_jpg,
               (n + i) % 3 = 0 AS has_json,
               10 + (n + i) % 600 AS txt_b,
               700 + (n + i) % 900 AS jpg_b,
               2 + (n + i) % 50 AS json_b
        FROM t, LATERAL UNNEST(range(0, 2 + n % 4)) AS u(i)
    )
    SELECT doc_id,
           'sample' || CAST(n % 1000 AS VARCHAR) || '_' ||
               lpad(CAST(i AS VARCHAR), 4, '0') AS key,
           CAST(1 + CASE WHEN has_jpg THEN 1 ELSE 0 END
                  + CASE WHEN has_json THEN 1 ELSE 0 END AS INT) AS n_members,
           CASE WHEN has_jpg THEN '.jpg' ELSE '' END ||
           CASE WHEN has_json THEN '.json' ELSE '' END || '.txt' AS exts,
           CAST(txt_b + CASE WHEN has_jpg THEN jpg_b ELSE 0 END
                      + CASE WHEN has_json THEN json_b ELSE 0 END AS BIGINT)
               AS total_bytes
    FROM s
"""


def q_webdataset_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset sample table: per row, a REAL POSIX-ustar shard
    (checksummed headers, block padding, directory entries, two-block
    terminator) is synthesized from the payload's byte length and the
    REAL parser (:func:`parse_webdataset`) groups its members into
    training samples by basename; ``WEBDATASET_ORACLE`` replays the
    closed form. Map-only with a per-shard fan-out — at 100 TB the
    shard IS the unit of parallelism (that is the format's whole
    point), so this stage scales with shard count at zero shuffle and
    its output is the sample-completeness audit run before training.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: parse_webdataset(_synth_webdataset(n)),
        WEBDATASET_SCHEMA,
        col="n",
        explode=True,
    )


# ---------------------------------------------------------------------------
# ZIP shard sample grouping: the zip twin of the WebDataset tar reader.
# Parsing reads ONLY the end-of-central-directory record and the central
# directory — the authoritative member index — never the local headers or
# member data, so at 100 TB a shard audit is two range reads per shard
# (the same access shape as the parquet footer scan in compactor/).
# ---------------------------------------------------------------------------

import struct as _zstruct


def synth_zip_params(n: int) -> dict:
    """Deterministic ZIP shard parameters for a payload of ``n`` bytes —
    the closed form ZIP_SAMPLES_ORACLE replays. Residues sweep the
    parse paths: sample count (%4), per-sample member set (every sample
    has a stored .txt; a DEFLATED .jpg on (n+i)%2, a stored .npy on
    (n+i)%5), a directory entry to skip, a ZIP64 end-of-central-
    directory record + locator (%11), and a per-entry ZIP64 extra field
    with maxed 32-bit size fields (%13)."""
    k = 1 + n % 4
    samples = []
    for i in range(k):
        key = f"z{n % 1000}_{i:04d}"
        # ext -> (uncompressed, compressed-or-None => stored)
        members = {".txt": (20 + (n + i) % 500, None)}
        if (n + i) % 2 == 1:
            members[".jpg"] = (800 + (n + i) % 1000, 300 + (n + i) % 400)
        if (n + i) % 5 == 0:
            members[".npy"] = (64 + (n + i) % 256, None)
        samples.append((key, members))
    return {
        "n_samples": k,
        "samples": samples,
        "zip64_eocd": n % 11 == 0,
        "zip64_entry": n % 13 == 0,
    }


def _synth_zip(n: int) -> bytes:
    """A REAL (APPNOTE-layout) ZIP shard for :func:`synth_zip_params` of
    ``n``: local headers + filler member data, a directory entry, the
    central directory, and — on the ZIP64 residues — a ZIP64
    end-of-central-directory record/locator and a per-entry ZIP64
    extra field. Deflated members carry filler of the declared
    compressed size: the metadata walk never inflates (same fixture
    discipline as the other container synths)."""
    p = synth_zip_params(n)
    out = bytearray()
    cd = bytearray()
    n_entries = 0

    def add(name: bytes, usize: int, csize: int, method: int, zip64: bool):
        nonlocal n_entries
        lho = len(out)
        crc = (n * 2654435761 + len(name) * 40503 + usize) & 0xFFFFFFFF
        out.extend(
            b"PK\x03\x04"
            + _zstruct.pack(
                "<HHHHHIIIHH", 20, 0, method, 0, 0x21, crc, csize, usize,
                len(name), 0,
            )
            + name
        )
        out.extend(b"\xa5" * csize)
        extra = b""
        c_f, u_f = csize, usize
        if zip64:
            extra = _zstruct.pack("<HHQQ", 1, 16, usize, csize)
            u_f = c_f = 0xFFFFFFFF
        cd.extend(
            b"PK\x01\x02"
            + _zstruct.pack(
                "<HHHHHHIIIHHHHHII",
                45 if zip64 else 20, 20, 0, method, 0, 0x21, crc, c_f, u_f,
                len(name), len(extra), 0, 0, 0, 0, lho,
            )
            + name
            + extra
        )
        n_entries += 1

    add(b"shard/", 0, 0, 0, False)  # directory entry: the reader skips it
    for si, (key, members) in enumerate(p["samples"]):
        for ext in sorted(members):
            usize, csz = members[ext]
            zip64 = p["zip64_entry"] and si == 0 and ext == ".txt"
            add(
                f"shard/{key}{ext}".encode(),
                usize,
                usize if csz is None else csz,
                0 if csz is None else 8,
                zip64,
            )
    cd_off = len(out)
    out.extend(cd)
    if p["zip64_eocd"]:
        z64 = len(out)
        out.extend(
            b"PK\x06\x06"
            + _zstruct.pack(
                "<QHHIIQQQQ", 44, 45, 45, 0, 0, n_entries, n_entries,
                len(cd), cd_off,
            )
        )
        out.extend(b"PK\x06\x07" + _zstruct.pack("<IQI", 0, z64, 1))
        out.extend(
            b"PK\x05\x06"
            + _zstruct.pack(
                "<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0
            )
        )
    else:
        out.extend(
            b"PK\x05\x06"
            + _zstruct.pack(
                "<HHHHIIH", 0, 0, n_entries, n_entries, len(cd), cd_off, 0
            )
        )
    return bytes(out)


def _zip_find_eocd(buf: bytes) -> int:
    """Offset of the end-of-central-directory record: scan backwards
    through the last 64 KiB + 22 bytes (the maximum comment span) for
    the signature whose comment length reaches EOF exactly — the
    APPNOTE-sanctioned way to survive signatures embedded in the
    archive comment."""
    start = max(0, len(buf) - 65557)
    pos = buf.rfind(b"PK\x05\x06", start)
    while pos != -1:
        if pos + 22 <= len(buf):
            (clen,) = _zstruct.unpack_from("<H", buf, pos + 20)
            if pos + 22 + clen == len(buf):
                return pos
        pos = buf.rfind(b"PK\x05\x06", start, pos)
    raise ValueError("no ZIP end-of-central-directory record")


def parse_zip_samples(payload: bytes) -> list[dict]:
    """Real ZIP shard parse — a pure-Python central-directory walk over
    the public APPNOTE layout (EOCD with comment scan, ZIP64 EOCD +
    locator, per-entry ZIP64 extra fields), followed by the SAME
    WebDataset grouping rule as :func:`parse_webdataset`: file members
    sharing a basename (before the first dot of the final path
    component) form one training sample. Member data and local headers
    are never read. Returns one dict per sample: key, n_members, exts
    (sorted dot-joined), total_bytes (uncompressed), comp_bytes
    (compressed).

    Raises ``ValueError`` on structural corruption (missing/ragged
    EOCD, central-directory overrun or size mismatch, bad entry
    signature, entry-count disagreement, stored member with differing
    sizes, missing ZIP64 structures where the 32-bit fields are maxed)
    and ``NotImplementedError`` on legal-but-unsupported layouts
    (multi-disk archives, encryption, compression methods other than
    stored/deflate), so the extract seam can degrade row-wise."""
    buf = bytes(payload)
    if len(buf) < 22:
        raise ValueError("too short for a ZIP archive")
    epos = _zip_find_eocd(buf)
    disk, cd_disk, n_disk, n_total, cd_size, cd_off = _zstruct.unpack_from(
        "<HHHHII", buf, epos + 4
    )
    if 0xFFFF in (n_disk, n_total) or 0xFFFFFFFF in (cd_size, cd_off):
        lpos = epos - 20
        if lpos < 0 or buf[lpos : lpos + 4] != b"PK\x06\x07":
            raise ValueError("ZIP64 sizes without a ZIP64 locator")
        ldisk, z64pos, ndisks = _zstruct.unpack_from("<IQI", buf, lpos + 4)
        if ldisk != 0 or ndisks != 1:
            raise NotImplementedError("multi-disk ZIP archives unsupported")
        if z64pos + 56 > len(buf) or buf[z64pos : z64pos + 4] != b"PK\x06\x06":
            raise ValueError("corrupt ZIP64 end-of-central-directory record")
        n_disk2, n_total2, cd_size64, cd_off64 = _zstruct.unpack_from(
            "<QQQQ", buf, z64pos + 24
        )
        if n_disk2 != n_total2:
            raise ValueError("ZIP64 entry counts disagree")
        n_total, cd_size, cd_off = n_total2, cd_size64, cd_off64
    else:
        if disk != 0 or cd_disk != 0:
            raise NotImplementedError("multi-disk ZIP archives unsupported")
        if n_disk != n_total:
            raise ValueError("EOCD entry counts disagree")
    end = cd_off + cd_size
    if end > len(buf):
        raise ValueError("central directory overruns the file")

    samples: dict[str, dict] = {}
    order: list[str] = []
    pos = cd_off
    for _ in range(n_total):
        if pos + 46 > len(buf) or buf[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError("corrupt ZIP central-directory entry")
        (
            _vmade, _vneed, flags, method, _mtime, _mdate, _crc,
            csize, usize, nlen, elen, clen, dstart, _iattr, _eattr, lho,
        ) = _zstruct.unpack_from("<HHHHHHIIIHHHHHII", buf, pos + 4)
        if flags & 0x0001:
            raise NotImplementedError("encrypted ZIP members unsupported")
        if dstart not in (0, 0xFFFF):
            raise NotImplementedError("multi-disk ZIP archives unsupported")
        name_end = pos + 46 + nlen
        if name_end + elen + clen > end:
            raise ValueError("ZIP central-directory entry overruns")
        name = buf[pos + 46 : name_end].decode("utf-8", "replace")
        if 0xFFFFFFFF in (usize, csize, lho):
            extra = buf[name_end : name_end + elen]
            ep, found = 0, False
            while ep + 4 <= len(extra):
                eid, esz = _zstruct.unpack_from("<HH", extra, ep)
                if ep + 4 + esz > len(extra):
                    raise ValueError("ZIP extra field overruns")
                if eid == 0x0001:
                    vp = ep + 4
                    for field in ("usize", "csize", "lho"):
                        cur = {"usize": usize, "csize": csize, "lho": lho}[field]
                        if cur == 0xFFFFFFFF:
                            if vp + 8 > ep + 4 + esz:
                                raise ValueError("short ZIP64 extra field")
                            (val,) = _zstruct.unpack_from("<Q", extra, vp)
                            vp += 8
                            if field == "usize":
                                usize = val
                            elif field == "csize":
                                csize = val
                            else:
                                lho = val
                    found = True
                ep += 4 + esz
            if not found:
                raise ValueError(
                    "maxed ZIP sizes without the ZIP64 extra field"
                )
        if method not in (0, 8):
            raise NotImplementedError(
                f"ZIP compression method {method} unsupported"
            )
        if method == 0 and csize != usize:
            raise ValueError("stored ZIP member with differing sizes")
        if lho >= cd_off:
            raise ValueError("ZIP member offset inside the central directory")
        if not name.endswith("/"):
            base = name.rsplit("/", 1)[-1]
            key, dot, ext = base.partition(".")
            ext = dot + ext
            s = samples.get(key)
            if s is None:
                s = {
                    "key": key,
                    "n_members": 0,
                    "exts": [],
                    "total_bytes": 0,
                    "comp_bytes": 0,
                }
                samples[key] = s
                order.append(key)
            s["n_members"] += 1
            s["exts"].append(ext)
            s["total_bytes"] += usize
            s["comp_bytes"] += csize
        pos = name_end + elen + clen
    if pos != end:
        raise ValueError("central directory size mismatch")
    if not samples:
        raise ValueError("ZIP archive holds no file members")
    return [
        {
            "key": k,
            "n_members": samples[k]["n_members"],
            "exts": "".join(sorted(samples[k]["exts"])),
            "total_bytes": samples[k]["total_bytes"],
            "comp_bytes": samples[k]["comp_bytes"],
        }
        for k in order
    ]


ZIP_SAMPLES_SCHEMA = (
    "doc_id bigint, key string, n_members int, exts string, "
    "total_bytes bigint, comp_bytes bigint"
)


def extract_zip_samples(df: DataFrame) -> DataFrame:
    """ZIP sample table over (doc_id, payload: binary) —
    one input shard explodes to one row per SAMPLE, blobs that are not
    parseable ZIP archives dropping row-wise. The zip twin of
    :func:`extract_webdataset_samples`, with per-sample compressed
    bytes alongside (compression-ratio audits fall out of
    ``comp_bytes / total_bytes``)."""
    return extract(
        df, lambda b: parse_zip_samples(b or b""), ZIP_SAMPLES_SCHEMA, explode=True
    )


#: q_zip_samples' DuckDB oracle — the sample closed form via LATERAL
#: UNNEST, with the deflated-member compressed sizes alongside.
ZIP_SAMPLES_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT doc_id, n, i,
               (n + i) % 2 = 1 AS has_jpg,
               (n + i) % 5 = 0 AS has_npy,
               20 + (n + i) % 500 AS txt_b,
               800 + (n + i) % 1000 AS jpg_b,
               300 + (n + i) % 400 AS jpg_c,
               64 + (n + i) % 256 AS npy_b
        FROM t, LATERAL UNNEST(range(0, 1 + n % 4)) AS u(i)
    )
    SELECT doc_id,
           'z' || CAST(n % 1000 AS VARCHAR) || '_' ||
               lpad(CAST(i AS VARCHAR), 4, '0') AS key,
           CAST(1 + CASE WHEN has_jpg THEN 1 ELSE 0 END
                  + CASE WHEN has_npy THEN 1 ELSE 0 END AS INT) AS n_members,
           CASE WHEN has_jpg THEN '.jpg' ELSE '' END ||
           CASE WHEN has_npy THEN '.npy' ELSE '' END || '.txt' AS exts,
           CAST(txt_b + CASE WHEN has_jpg THEN jpg_b ELSE 0 END
                      + CASE WHEN has_npy THEN npy_b ELSE 0 END AS BIGINT)
               AS total_bytes,
           CAST(txt_b + CASE WHEN has_jpg THEN jpg_c ELSE 0 END
                      + CASE WHEN has_npy THEN npy_b ELSE 0 END AS BIGINT)
               AS comp_bytes
    FROM s
"""


def q_zip_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP sample table: per row, a REAL APPNOTE-layout ZIP shard
    (local headers, central directory, directory entries, ZIP64
    EOCD/locator and per-entry extra fields on their residues) is
    synthesized from the payload's byte length and the REAL parser
    (:func:`parse_zip_samples`) walks ONLY the central directory to
    group members into training samples; ``ZIP_SAMPLES_ORACLE`` replays
    the closed form. Map-only with per-shard fan-out — at 100 TB the
    audit is two range reads per shard (EOCD + central directory),
    never member data.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: parse_zip_samples(_synth_zip(n)),
        ZIP_SAMPLES_SCHEMA,
        col="n",
        explode=True,
    )


# ---------------------------------------------------------------------------
# Sitemap parsing (sitemaps.org protocol): the crawl-frontier side of the
# URL curation family — <urlset>/<sitemapindex> entries with per-URL
# lastmod/changefreq/priority, feeding the same canonical_url keying as
# q_url_dedup and the same per-host admission as q_robots_admission.
# ---------------------------------------------------------------------------

#: The protocol's changefreq enumeration (sitemaps.org §XML tag defs).
_SITEMAP_CHANGEFREQS = (
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never",
)

#: W3C datetime as the protocol allows for <lastmod>: a date, optionally
#: with a time and zone designator.
_SITEMAP_LASTMOD_RE = _re.compile(
    r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
    r"(T\d{2}:\d{2}(:\d{2}(\.\d+)?)?(Z|[+-]\d{2}:\d{2}))?$"
)

_SITEMAP_PRIORITY_RE = _re.compile(r"^(0(\.\d{1,6})?|1(\.0{1,6})?)$")

_XML_NAME_RE = _re.compile(r"<([A-Za-z][\w.:-]*)((?:\s+[^<>]*?)?)\s*(/?)>")


def _xml_unescape(s: str) -> str:
    """Strict XML entity decoding: the five predefined entities plus
    numeric character references; a bare ``&`` is a ValueError (the
    protocol requires escaped data values)."""
    out = []
    pos = 0
    named = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}
    while True:
        i = s.find("&", pos)
        if i == -1:
            out.append(s[pos:])
            return "".join(out)
        out.append(s[pos:i])
        j = s.find(";", i + 1)
        if j == -1 or j - i > 12:
            raise ValueError("bare '&' in XML text")
        e = s[i + 1 : j]
        if e in named:
            out.append(named[e])
        elif e[:2] in ("#x", "#X"):
            try:
                out.append(chr(int(e[2:], 16)))
            except (ValueError, OverflowError):
                raise ValueError(f"bad numeric XML reference &{e};") from None
        elif e[:1] == "#":
            try:
                out.append(chr(int(e[1:])))
            except (ValueError, OverflowError):
                raise ValueError(f"bad numeric XML reference &{e};") from None
        else:
            raise ValueError(f"unknown XML entity &{e};")
        pos = j + 1


def _xml_skip_ws(s: str, pos: int) -> int:
    """Advance past whitespace and comments between elements."""
    while True:
        while pos < len(s) and s[pos] in " \t\r\n":
            pos += 1
        if s.startswith("<!--", pos):
            j = s.find("-->", pos + 4)
            if j == -1:
                raise ValueError("unterminated XML comment")
            pos = j + 3
            continue
        return pos


def _xml_simple_text(s: str, pos: int, name: str) -> tuple[str, int]:
    """Text content of a simple (no child elements) element whose open
    tag has just been consumed at ``pos``; returns (decoded text,
    position after the close tag). CDATA sections pass through
    verbatim; any nested element is a ValueError."""
    parts = []
    while True:
        if s.startswith("<![CDATA[", pos):
            j = s.find("]]>", pos + 9)
            if j == -1:
                raise ValueError("unterminated CDATA section")
            parts.append(s[pos + 9 : j])
            pos = j + 3
            continue
        i = s.find("<", pos)
        if i == -1:
            raise ValueError(f"unclosed <{name}> element")
        parts.append(_xml_unescape(s[pos:i]))
        if s.startswith("<![CDATA[", i):
            pos = i
            continue
        if not s.startswith(f"</{name}", i):
            raise ValueError(f"unexpected markup inside <{name}>")
        j = s.find(">", i)
        if j == -1:
            raise ValueError(f"unclosed </{name}> tag")
        return "".join(parts), j + 1


def parse_sitemap(text: str) -> list[dict]:
    """Real sitemap parse — a pure-Python scan over the public
    sitemaps.org protocol: ``<urlset>`` URL entries (loc + optional
    lastmod/changefreq/priority) or ``<sitemapindex>`` child-sitemap
    entries (loc + optional lastmod), with strict XML surface handling
    (declaration, comments between elements, CDATA, the five named +
    numeric entities) and the protocol's own validity rules (loc is a
    full scheme URL under 2,048 chars, changefreq from the closed
    enumeration, priority in [0.0, 1.0], W3C-datetime lastmod, at most
    50,000 entries). Unknown child elements are consumed and ignored,
    as the protocol instructs consumers. Returns one dict per entry:
    seq, kind ('url'/'sitemap'), loc, lastmod, changefreq, priority
    (the latter three None when absent).

    Raises ``ValueError`` on malformed XML or protocol violations and
    ``NotImplementedError`` on legal-but-unsupported layouts
    (namespace-prefixed roots), so callers degrade row-wise."""
    s = text[1:] if text[:1] == "\ufeff" else text
    pos = _xml_skip_ws(s, 0)
    if s.startswith("<?xml", pos):
        j = s.find("?>", pos)
        if j == -1:
            raise ValueError("unterminated XML declaration")
        pos = _xml_skip_ws(s, j + 2)
    m = _XML_NAME_RE.match(s, pos)
    if m is None:
        raise ValueError("not an XML document")
    root = m.group(1)
    if ":" in root:
        raise NotImplementedError(
            "namespace-prefixed sitemap root unsupported"
        )
    if root not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap document (root <{root}>)")
    if m.group(3) == "/":
        raise ValueError("empty sitemap root element")
    kind = "url" if root == "urlset" else "sitemap"
    pos = m.end()
    entries: list[dict] = []
    while True:
        pos = _xml_skip_ws(s, pos)
        if s.startswith(f"</{root}", pos):
            j = s.find(">", pos)
            if j == -1:
                raise ValueError(f"unclosed </{root}> tag")
            if _xml_skip_ws(s, j + 1) != len(s):
                raise ValueError("trailing content after the sitemap root")
            break
        em = _XML_NAME_RE.match(s, pos)
        if em is None or em.group(1) != kind or em.group(3) == "/":
            raise ValueError(f"expected <{kind}> entry in <{root}>")
        pos = em.end()
        entry = {
            "seq": len(entries),
            "kind": kind,
            "loc": None,
            "lastmod": None,
            "changefreq": None,
            "priority": None,
        }
        while True:
            pos = _xml_skip_ws(s, pos)
            if s.startswith(f"</{kind}", pos):
                j = s.find(">", pos)
                if j == -1:
                    raise ValueError(f"unclosed </{kind}> tag")
                pos = j + 1
                break
            cm = _XML_NAME_RE.match(s, pos)
            if cm is None:
                raise ValueError(f"malformed markup inside <{kind}>")
            cname = cm.group(1)
            pos = cm.end()
            if cm.group(3) == "/":
                continue  # self-closing unknown child: ignored
            value, pos = _xml_simple_text(s, pos, cname)
            if cname == "loc":
                entry["loc"] = value.strip()
            elif cname == "lastmod":
                entry["lastmod"] = value.strip()
            elif cname == "changefreq" and kind == "url":
                entry["changefreq"] = value.strip()
            elif cname == "priority" and kind == "url":
                entry["priority"] = value.strip()
            # unknown children: consumed and ignored per the protocol
        loc = entry["loc"]
        if not loc:
            raise ValueError(f"<{kind}> entry without a <loc>")
        if len(loc) >= 2048:
            raise ValueError("sitemap <loc> exceeds 2,048 characters")
        if not _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", loc):
            raise ValueError("sitemap <loc> is not a full scheme URL")
        if entry["lastmod"] is not None and not _SITEMAP_LASTMOD_RE.match(
            entry["lastmod"]
        ):
            raise ValueError(f"bad sitemap <lastmod> {entry['lastmod']!r}")
        if (
            entry["changefreq"] is not None
            and entry["changefreq"] not in _SITEMAP_CHANGEFREQS
        ):
            raise ValueError(f"bad sitemap <changefreq> {entry['changefreq']!r}")
        if entry["priority"] is not None and not _SITEMAP_PRIORITY_RE.match(
            entry["priority"]
        ):
            raise ValueError(f"bad sitemap <priority> {entry['priority']!r}")
        entries.append(entry)
        if len(entries) > 50000:
            raise ValueError("sitemap exceeds 50,000 entries")
    if not entries:
        raise ValueError("sitemap holds no entries")
    return entries


def synth_sitemap_params(n: int) -> dict:
    """Deterministic sitemap parameters for a payload of ``n`` bytes —
    the closed form SITEMAP_ORACLE replays. Residues sweep the parse
    paths: urlset vs sitemapindex (%9), entry count (%6), lastmod
    presence (%2), changefreq presence (%3) and value (%7), priority
    presence (%4) and value (%9), CDATA-wrapped locs (%8), unknown
    child elements to ignore (%6), an XML declaration (%2), and a
    comment before the root (%5)."""
    is_index = n % 9 == 0
    k = 1 + n % 6
    entries = []
    for i in range(k):
        if is_index:
            loc = f"https://s{n % 50}.example.org/maps/{i}.xml.gz"
        else:
            loc = (
                f"https://s{n % 50}.example.org/page/{i}"
                f"?id={n + i}&p={(n + i) % 7}"
            )
        e = {
            "seq": i,
            "kind": "sitemap" if is_index else "url",
            "loc": loc,
            "lastmod": None,
            "changefreq": None,
            "priority": None,
        }
        if (n + i) % 2 == 0:
            e["lastmod"] = (
                f"2023-{1 + (n + i) % 12:02d}-{1 + (n + i) % 28:02d}"
            )
        if not is_index:
            if (n + i) % 3 == 0:
                e["changefreq"] = _SITEMAP_CHANGEFREQS[(n + i) % 7]
            if (n + i) % 4 == 0:
                e["priority"] = f"0.{1 + (n + i) % 9}"
        entries.append(e)
    return {"kind": "sitemap" if is_index else "url", "entries": entries}


def _synth_sitemap(n: int) -> str:
    """A REAL (protocol-layout) sitemap document for
    :func:`synth_sitemap_params` of ``n``: namespaced root, optional
    XML declaration and comments, entity-escaped query ampersands,
    CDATA-wrapped locs and unknown child elements on their residues."""
    p = synth_sitemap_params(n)
    is_index = p["kind"] == "sitemap"
    root = "sitemapindex" if is_index else "urlset"
    nl = ("\n", "\n  ", "\n\t")[n % 3]
    out = []
    if n % 2 == 0:
        out.append('<?xml version="1.0" encoding="UTF-8"?>\n')
    if n % 5 == 0:
        out.append(f"<!-- synth sitemap {n} -->\n")
    out.append(
        f'<{root} xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    )
    tag = "sitemap" if is_index else "url"
    for i, e in enumerate(p["entries"]):
        out.append(f"{nl}<{tag}>")
        if (n + i) % 8 == 0:
            out.append(f"{nl}  <loc><![CDATA[{e['loc']}]]></loc>")
        else:
            out.append(f"{nl}  <loc>{e['loc'].replace('&', '&amp;')}</loc>")
        if e["lastmod"] is not None:
            out.append(f"{nl}  <lastmod>{e['lastmod']}</lastmod>")
        if e["changefreq"] is not None:
            out.append(f"{nl}  <changefreq>{e['changefreq']}</changefreq>")
        if e["priority"] is not None:
            out.append(f"{nl}  <priority>{e['priority']}</priority>")
        if (n + i) % 6 == 0:
            out.append(f"{nl}  <note>ignored child {i}</note>")
        out.append(f"{nl}</{tag}>")
    out.append(f"\n</{root}>\n")
    return "".join(out)


SITEMAP_SCHEMA = (
    "doc_id bigint, seq int, kind string, loc string, lastmod string, "
    "changefreq string, priority string"
)


def extract_sitemap_urls(df: DataFrame) -> DataFrame:
    """Sitemap-entry table over (doc_id, payload:
    string) — one sitemap document explodes to one row per entry,
    documents that are not parseable sitemaps dropping row-wise. The
    crawl-frontier seam: downstream the loc column keys into
    :func:`canonical_url` and the per-host robots admission exactly
    like fetched URLs do."""
    return extract(
        df, lambda t: parse_sitemap(t or ""), SITEMAP_SCHEMA, explode=True
    )


#: q_sitemap_urls' DuckDB oracle — the entry closed form via LATERAL
#: UNNEST (locs, W3C dates, the changefreq enumeration and priority
#: tenths from the residues).
SITEMAP_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT doc_id, n, i,
               n % 9 = 0 AS is_index,
               (n + i) % 2 = 0 AS has_lastmod,
               (n + i) % 3 = 0 AS has_freq,
               (n + i) % 4 = 0 AS has_prio
        FROM t, LATERAL UNNEST(range(0, 1 + n % 6)) AS u(i)
    )
    SELECT doc_id,
           CAST(i AS INT) AS seq,
           CASE WHEN is_index THEN 'sitemap' ELSE 'url' END AS kind,
           CASE WHEN is_index
                THEN 'https://s' || CAST(n % 50 AS VARCHAR) ||
                     '.example.org/maps/' || CAST(i AS VARCHAR) || '.xml.gz'
                ELSE 'https://s' || CAST(n % 50 AS VARCHAR) ||
                     '.example.org/page/' || CAST(i AS VARCHAR) ||
                     '?id=' || CAST(n + i AS VARCHAR) ||
                     '&p=' || CAST((n + i) % 7 AS VARCHAR)
           END AS loc,
           CASE WHEN has_lastmod
                THEN '2023-' || lpad(CAST(1 + (n + i) % 12 AS VARCHAR), 2, '0')
                     || '-' || lpad(CAST(1 + (n + i) % 28 AS VARCHAR), 2, '0')
                ELSE NULL END AS lastmod,
           CASE WHEN NOT is_index AND has_freq
                THEN (['always','hourly','daily','weekly','monthly',
                       'yearly','never'])[1 + (n + i) % 7]
                ELSE NULL END AS changefreq,
           CASE WHEN NOT is_index AND has_prio
                THEN '0.' || CAST(1 + (n + i) % 9 AS VARCHAR)
                ELSE NULL END AS priority
    FROM s
"""


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap entry table: per row, a REAL protocol-layout sitemap
    (urlset or sitemapindex, entity-escaped locs, CDATA, comments,
    unknown children) is synthesized from the payload's byte length
    and the REAL parser (:func:`parse_sitemap`) recovers one row per
    entry; ``SITEMAP_ORACLE`` replays the closed form via LATERAL
    UNNEST — the crawl-frontier member of the URL curation family
    (q_url_dedup / q_robots_admission). Map-only with per-document
    fan-out; at 100 TB the frontier build is a pure map over fetched
    sitemap blobs followed by the same canonical-key shuffle as URL
    dedup.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: parse_sitemap(_synth_sitemap(n)),
        SITEMAP_SCHEMA,
        col="n",
        explode=True,
    )


# ---------------------------------------------------------------------------
# TFRecord shard parsing: the third training-shard container (tar ustar,
# zip central directory, and now TFRecord length-prefixed framing), plus a
# real protobuf WIRE-FORMAT walk of the tf.Example payloads — feature
# names/types/counts per record without any protobuf library.
# ---------------------------------------------------------------------------


def _build_crc32c_table() -> tuple[int, ...]:
    """CRC-32C (Castagnoli): reflected polynomial 0x82F63B78 — the
    checksum TFRecord frames carry (masked). Table-driven, byte at a
    time; validated against the public 0xE3069283 check vector for
    b'123456789' in the tests."""
    table = []
    for i in range(256):
        r = i
        for _ in range(8):
            r = (r >> 1) ^ 0x82F63B78 if r & 1 else r >> 1
        table.append(r)
    return tuple(table)


_CRC32C_TABLE = _build_crc32c_table()


def crc32c(data: bytes) -> int:
    """Plain CRC-32C (init/xorout 0xFFFFFFFF, reflected)."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def tfrecord_mask(crc: int) -> int:
    """TFRecord's masked checksum: rotate right 15 then add the public
    masking constant 0xA282EAD8 (both from the published format)."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _pb_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """(value, new_pos); ValueError on truncation or a varint longer
    than the wire format allows (10 bytes)."""
    result = 0
    shift = 0
    start = pos
    while True:
        if pos >= len(buf):
            raise ValueError("truncated protobuf varint")
        if pos - start >= 10:
            raise ValueError("overlong protobuf varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _pb_field(field: int, wiretype: int) -> bytes:
    return _pb_varint((field << 3) | wiretype)


def _pb_len(field: int, payload: bytes) -> bytes:
    return _pb_field(field, 2) + _pb_varint(len(payload)) + payload


def synth_tfrecord_params(n: int) -> dict:
    """Deterministic TFRecord shard parameters for a payload of ``n``
    bytes — the closed form TFRECORD_ORACLE replays. Residues sweep the
    parse paths: record count (%6), a bytes_list 'text' feature always
    (length 10 + (n+i)%100), an int64_list 'label' on (n+i)%2 (packed
    varints, value (n+i)%1000 exercising multi-byte varints), a
    float_list 'emb' on (n+i)%3 with 2 + (n+i)%4 packed floats, and an
    unknown extra field to skip on (n+i)%5."""
    k = 1 + n % 6
    recs = []
    for i in range(k):
        recs.append(
            {
                "text_bytes": 10 + (n + i) % 100,
                "has_label": (n + i) % 2 == 0,
                "label": (n + i) % 1000,
                "n_floats": (2 + (n + i) % 4) if (n + i) % 3 == 0 else 0,
                "unknown_field": (n + i) % 5 == 0,
            }
        )
    return {"n_records": k, "records": recs}


def _synth_tfexample(n: int, i: int) -> bytes:
    """One tf.Example message in REAL protobuf wire format for record
    ``i`` of :func:`synth_tfrecord_params`: Example{features(1):
    Features{feature(1): map<string(1), Feature(2)>}} with
    BytesList(1)/FloatList(2)/Int64List(3) values, packed repeated
    scalars, and an unknown varint field the walker must skip."""
    p = synth_tfrecord_params(n)["records"][i]
    entries = b""
    # map entries: key (field 1, string), value (field 2, Feature)
    text = bytes((n + i + j) % 256 for j in range(p["text_bytes"]))
    bytes_list = _pb_len(1, _pb_len(1, text))  # Feature.bytes_list.value
    entries += _pb_len(1, _pb_len(1, b"text") + _pb_len(2, bytes_list))
    if p["has_label"]:
        packed = _pb_varint(p["label"])
        int64_list = _pb_len(3, _pb_len(1, packed))  # Feature.int64_list
        entries += _pb_len(1, _pb_len(1, b"label") + _pb_len(2, int64_list))
    if p["n_floats"]:
        floats = b"".join(
            _zstruct.pack("<f", float((n + i + j) % 7)) for j in range(p["n_floats"])
        )
        float_list = _pb_len(2, _pb_len(1, floats))  # Feature.float_list
        entries += _pb_len(1, _pb_len(1, b"emb") + _pb_len(2, float_list))
    features = _pb_len(1, entries)  # Example.features
    example = features
    if p["unknown_field"]:
        example += _pb_field(99, 0) + _pb_varint(7)  # unknown: skipped
    return example


def _synth_tfrecord(n: int) -> bytes:
    """A REAL TFRecord shard for :func:`synth_tfrecord_params` of
    ``n``: per record, little-endian uint64 length + masked CRC-32C of
    the length bytes + payload + masked CRC-32C of the payload — the
    published framing, with real tf.Example wire-format payloads."""
    out = bytearray()
    for i in range(synth_tfrecord_params(n)["n_records"]):
        payload = _synth_tfexample(n, i)
        length = _zstruct.pack("<Q", len(payload))
        out += length
        out += _zstruct.pack("<I", tfrecord_mask(crc32c(length)))
        out += payload
        out += _zstruct.pack("<I", tfrecord_mask(crc32c(payload)))
    return bytes(out)


def _pb_skip(buf: bytes, pos: int, wiretype: int) -> int:
    """Skip one unknown field's value per the wire format; groups
    (wiretypes 3/4, long-deprecated) raise NotImplementedError."""
    if wiretype == 0:
        _, pos = _pb_read_varint(buf, pos)
        return pos
    if wiretype == 1:
        if pos + 8 > len(buf):
            raise ValueError("truncated 64-bit protobuf field")
        return pos + 8
    if wiretype == 2:
        size, pos = _pb_read_varint(buf, pos)
        if pos + size > len(buf):
            raise ValueError("protobuf length-delimited field overruns")
        return pos + size
    if wiretype == 5:
        if pos + 4 > len(buf):
            raise ValueError("truncated 32-bit protobuf field")
        return pos + 4
    raise NotImplementedError(
        f"protobuf group wiretype {wiretype} unsupported"
    )


def _pb_submessages(buf: bytes, want_field: int):
    """Yield the payload of every occurrence of ``want_field`` (which
    must be length-delimited) in one message, skipping other fields."""
    pos = 0
    while pos < len(buf):
        tag, pos = _pb_read_varint(buf, pos)
        field, wiretype = tag >> 3, tag & 7
        if field == want_field:
            if wiretype != 2:
                raise ValueError(
                    f"protobuf field {field} is not length-delimited"
                )
            size, pos = _pb_read_varint(buf, pos)
            if pos + size > len(buf):
                raise ValueError("protobuf length-delimited field overruns")
            yield buf[pos : pos + size]
            pos += size
        else:
            pos = _pb_skip(buf, pos, wiretype)


def _parse_tfexample(payload: bytes) -> dict:
    """Feature summary of one tf.Example from its wire bytes: feature
    names, per-type element counts, total bytes of bytes_list values."""
    names: list[str] = []
    n_ints = 0
    n_floats = 0
    text_bytes = 0
    for features in _pb_submessages(payload, 1):  # Example.features
        for entry in _pb_submessages(features, 1):  # map entries
            key = None
            for k in _pb_submessages(entry, 1):
                key = k.decode("utf-8", "replace")
            if key is None:
                raise ValueError("tf.Example feature entry without a key")
            names.append(key)
            for feature in _pb_submessages(entry, 2):
                for blist in _pb_submessages(feature, 1):  # BytesList
                    for val in _pb_submessages(blist, 1):
                        text_bytes += len(val)
                for flist in _pb_submessages(feature, 2):  # FloatList
                    pos = 0
                    while pos < len(flist):
                        tag, pos = _pb_read_varint(flist, pos)
                        field, wiretype = tag >> 3, tag & 7
                        if field == 1 and wiretype == 2:  # packed
                            size, pos = _pb_read_varint(flist, pos)
                            if size % 4 or pos + size > len(flist):
                                raise ValueError("bad packed float run")
                            n_floats += size // 4
                            pos += size
                        elif field == 1 and wiretype == 5:  # unpacked
                            pos = _pb_skip(flist, pos, 5)
                            n_floats += 1
                        else:
                            pos = _pb_skip(flist, pos, wiretype)
                for ilist in _pb_submessages(feature, 3):  # Int64List
                    pos = 0
                    while pos < len(ilist):
                        tag, pos = _pb_read_varint(ilist, pos)
                        field, wiretype = tag >> 3, tag & 7
                        if field == 1 and wiretype == 2:  # packed
                            size, pos = _pb_read_varint(ilist, pos)
                            if pos + size > len(ilist):
                                raise ValueError("bad packed int64 run")
                            end = pos + size
                            while pos < end:
                                _, pos = _pb_read_varint(ilist, pos)
                                n_ints += 1
                            if pos != end:
                                raise ValueError("bad packed int64 run")
                        elif field == 1 and wiretype == 0:  # unpacked
                            _, pos = _pb_read_varint(ilist, pos)
                            n_ints += 1
                        else:
                            pos = _pb_skip(ilist, pos, wiretype)
    if not names:
        raise ValueError("tf.Example carries no features")
    return {
        "features": ",".join(sorted(names)),
        "n_features": len(names),
        "n_ints": n_ints,
        "n_floats": n_floats,
        "text_bytes": text_bytes,
    }


def parse_tfrecords(payload: bytes) -> list[dict]:
    """Real TFRecord shard parse — the published framing (LE uint64
    length, masked CRC-32C of the length bytes, payload, masked
    CRC-32C of the payload; both checksums VERIFIED) followed by a
    protobuf wire-format walk of each tf.Example payload (no protobuf
    library): feature map entries, BytesList/FloatList/Int64List
    values (packed and unpacked repeated scalars), unknown fields
    skipped by wiretype as the format requires. Returns one dict per
    record: rec, n_features, features (sorted comma-joined names),
    n_ints, n_floats, text_bytes, payload_bytes.

    Raises ``ValueError`` on corruption (checksum mismatch, truncated
    frame or varint, overrunning length-delimited fields, featureless
    records) and ``NotImplementedError`` on deprecated protobuf groups
    — the row-wise-degrade contract at the extract seam."""
    buf = bytes(payload)
    if not buf:
        raise ValueError("empty TFRecord shard")
    pos = 0
    out: list[dict] = []
    while pos < len(buf):
        if pos + 12 > len(buf):
            raise ValueError("truncated TFRecord length frame")
        length_bytes = buf[pos : pos + 8]
        (length,) = _zstruct.unpack("<Q", length_bytes)
        (length_crc,) = _zstruct.unpack_from("<I", buf, pos + 8)
        if tfrecord_mask(crc32c(length_bytes)) != length_crc:
            raise ValueError("TFRecord length checksum mismatch")
        data_start = pos + 12
        data_end = data_start + length
        if data_end + 4 > len(buf):
            raise ValueError("TFRecord payload overruns the shard")
        data = buf[data_start:data_end]
        (data_crc,) = _zstruct.unpack_from("<I", buf, data_end)
        if tfrecord_mask(crc32c(data)) != data_crc:
            raise ValueError("TFRecord payload checksum mismatch")
        rec = _parse_tfexample(data)
        rec["rec"] = len(out)
        rec["payload_bytes"] = length
        out.append(rec)
        pos = data_end + 4
    if not out:
        raise ValueError("TFRecord shard holds no records")
    return out


TFRECORD_SCHEMA = (
    "doc_id bigint, rec int, n_features int, features string, "
    "n_ints int, n_floats int, text_bytes bigint, payload_bytes bigint"
)


def extract_tfrecord_samples(df: DataFrame) -> DataFrame:
    """TFRecord record table over (doc_id, payload:
    binary) — one shard explodes to one row per record, blobs that are
    not parseable TFRecord shards dropping row-wise. The third member
    of the training-shard audit family (tar, zip, tfrecord): feature
    completeness and size accounting without a protobuf or TF
    dependency anywhere."""
    return extract(
        df, lambda b: parse_tfrecords(b or b""), TFRECORD_SCHEMA, explode=True
    )


#: q_tfrecord_samples' DuckDB oracle — the record closed form via
#: LATERAL UNNEST. payload_bytes is replayed structurally: the wire
#: size of each synth tf.Example is itself a closed form of the
#: residues (text run + optional label + optional packed floats +
#: optional unknown field), with the label's varint width the only
#: value-dependent term (1 byte below 128, 2 from 128).
TFRECORD_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT doc_id, n, i,
               (n + i) % 2 = 0 AS has_label,
               (n + i) % 3 = 0 AS has_emb,
               (n + i) % 5 = 0 AS has_unknown,
               10 + (n + i) % 100 AS text_b,
               (n + i) % 1000 AS label,
               2 + (n + i) % 4 AS n_floats
        FROM t, LATERAL UNNEST(range(0, 1 + n % 6)) AS u(i)
    ), z AS (
        -- Structural wire sizes, derived entry by entry from the synth
        -- nesting (every inner length fits one varint byte by residue
        -- construction): text entry = 14 + text_b, label entry =
        -- 15 + varint width of the label value, emb entry =
        -- 13 + 4 * n_floats; the outer Example.features length varint
        -- is the only header that can need two bytes.
        SELECT *,
               (text_b + 14)
               + CASE WHEN has_label
                      THEN 15 + CASE WHEN label < 128 THEN 1 ELSE 2 END
                      ELSE 0 END
               + CASE WHEN has_emb THEN 13 + 4 * n_floats
                      ELSE 0 END AS entries_sz
        FROM s
    )
    SELECT doc_id,
           CAST(i AS INT) AS rec,
           CAST(1 + CASE WHEN has_label THEN 1 ELSE 0 END
                  + CASE WHEN has_emb THEN 1 ELSE 0 END AS INT) AS n_features,
           CASE WHEN has_emb THEN 'emb,' ELSE '' END ||
           CASE WHEN has_label THEN 'label,' ELSE '' END || 'text' AS features,
           CAST(CASE WHEN has_label THEN 1 ELSE 0 END AS INT) AS n_ints,
           CAST(CASE WHEN has_emb THEN n_floats ELSE 0 END AS INT) AS n_floats,
           CAST(text_b AS BIGINT) AS text_bytes,
           CAST(1 + CASE WHEN entries_sz < 128 THEN 1 ELSE 2 END
                + entries_sz
                + CASE WHEN has_unknown THEN 3 ELSE 0 END
                AS BIGINT) AS payload_bytes
    FROM z
"""


def q_tfrecord_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord record table: per row, a REAL TFRecord shard (published
    framing with VERIFIED masked CRC-32C checksums, real tf.Example
    protobuf wire bytes) is synthesized from the payload's byte length
    and the REAL parser (:func:`parse_tfrecords`) recovers one row per
    record; ``TFRECORD_ORACLE`` replays the closed form including the
    structural wire size of each record. Map-only with per-shard
    fan-out — the TFRecord twin of q_webdataset_samples, at zero
    shuffle.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: parse_tfrecords(_synth_tfrecord(n)),
        TFRECORD_SCHEMA,
        col="n",
        explode=True,
    )
