"""Training-data-pipeline extensions beyond the SURVEY §2 inventory
(mandated by the north star, BASELINE.json:6): additional dedup
families (SimHash, n-gram Jaccard, embedding-cosine), text analysis
(language-ID, quality scoring, token counting, fingerprinting), and
the multimodal binary-column plumbing.

These register extra `queries()` keys on top of the 97 graded names —
each with a DuckDB oracle where the operator is SQL-expressible.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions import arr_str
from hbase_sep_spark.functions.portable import ascii_lower, knuth_hash
from hbase_sep_spark.io import t
from hbase_sep_spark.operators import vectors as V
from hbase_sep_spark.operators import dedup as D
from hbase_sep_spark.operators import text as T
from hbase_sep_spark.registry import register

SECTION = "2.11-ext"


@register("dedup_simhash", oracle=None, memoize=True, section=SECTION)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dup pairs within hamming distance ≤ 3,
    candidates via 16-bit band pigeonhole join. rows-only (xxhash64
    signature not reproducible oracle-side). Injected exact copies
    guarantee hamming-0 pairs exist."""
    d = t(spark, sf_dir, "documents")
    copies = d.filter(F.col("doc_id") % 7 == 0).withColumn("doc_id", F.col("doc_id") + 100000)
    corpus = d.unionByName(copies)
    # Range-partitioned orderBy for deterministic output order: the
    # same single-task-stage hazard the round-10 30x capture measured
    # on the minhash twin (coalesce(1) was 28 s — 75% of the whole
    # suite — at a ~3M-pair list; the global sort stays parallel at
    # any pair count).
    return D.simhash_near_dup_pairs(corpus).orderBy("id_a", "id_b")


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id <= 200
    ),
    sizes AS (SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM tok a JOIN tok b
          ON a.word = b.word AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common) >= 0.5
    """,
    section=SECTION,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-Jaccard near-dup within source blocks (the
    blocking key bounds the pair space — same principle as LSH
    buckets, but exact). jaccard = |A∩B| / |A∪B| ≥ 0.5."""
    tok = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 200)
        .select("doc_id", "source", F.explode(F.array_distinct(T.words())).alias("word"))
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cos_raw
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {V.valid_sql('a.embedding')}
          AND {V.valid_sql('b.embedding')}
    )
    SELECT id_a, id_b, round(cos_raw, 4) + 0.0 AS cos_sim
    FROM pairs
    ORDER BY cos_raw DESC, id_a, id_b
    LIMIT 20
    """,
    section=SECTION,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-20 most-similar pairs within
    label blocks (blocking bounds the pair space; at 100 TB the block
    key is vectors.lsh_bucket instead of the label). Both join sides
    pass the V.is_valid gate (round-7 hostile-embeddings sweep: a
    zero-norm vector in any pair is ANSI DIVIDE_BY_ZERO)."""
    from hbase_sep_spark.operators import vectors as V

    e = t(spark, sf_dir, "embeddings").filter(V.is_valid("embedding"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"), F.col("embedding").alias("eb"))
    cos = V.cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", cos.alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", (F.round("cos_raw", 4) + F.lit(0.0)).alias("cos_sim"))
    )


_LANG_CASES = []
for _lang, _stops in T.STOPWORDS.items():
    _arr = ", ".join(f"'{s}'" for s in _stops)
    _LANG_CASES.append((_lang, _arr))

_DUCK_LANGID = " ,\n           ".join(
    f"len(list_intersect(list_distinct(string_split(text, ' ')), [{arr}])) AS hits_{lang}"
    for lang, arr in _LANG_CASES
)


@register(
    "text_langid_heuristic",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {_DUCK_LANGID}
        FROM documents
    )
    SELECT doc_id,
           lang AS lang_actual,
           CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
                WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
                WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
                WHEN hits_fr >= hits_zh THEN 'fr'
                ELSE 'zh' END AS lang_predicted,
           CAST(hits_en AS INT) AS hits_en
    FROM scored
    """,
    section=SECTION,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word (stopword) overlap per
    language, argmax with a fixed de>en>es>fr>zh tie order. Pure
    expression — no UDF; a real corpus would use char n-gram
    profiles, same plan shape."""
    d = t(spark, sf_dir, "documents")
    scores = T.langid_scores()
    langs = ["de", "en", "es", "fr", "zh"]
    pred = F.lit("zh")
    # Build the argmax cascade back to front to honor the tie order.
    for i in range(len(langs) - 2, -1, -1):
        lang = langs[i]
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        pred.alias("lang_predicted"),
        scores["en"].alias("hits_en"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(
             (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END) * 0.4
           + (CASE WHEN CAST(n_chars AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)
                        BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END) * 0.4
           + (CASE WHEN len(list_intersect(string_split(text, ' '),
                 [{", ".join(f"'{s}'" for lst in T.STOPWORDS.values() for s in lst)}])) > 0
              THEN 1.0 ELSE 0.7 END) * 0.2, 4) AS quality,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words
    FROM documents
    """,
    section=SECTION,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality heuristic (length band, mean word length,
    stopword presence) — operators.text.quality_score."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.quality_score().alias("quality"),
        T.token_count_ws().alias("n_words"),
    )


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 \t\n\x0B\f\r]')) AS INT)
               AS n_bpe_ish_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
    section=SECTION,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    subword proxy (bounded letter/digit runs + symbols) — the
    training-pipeline 'how many tokens is this corpus' primitive.
    The symbol class spells whitespace explicitly instead of `\\s`
    (Java includes \\x0B in \\s, RE2 doesn't — round-8 control-char
    sweep); the oracle's pattern must stay byte-equal to
    operators.text.BPE_ISH_PATTERN (drift-pinned by
    the ctrlchar class of tests/mutations.py)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count_ws().alias("n_ws_tokens"),
        T.token_count_bpe_ish().alias("n_bpe_ish_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(array_to_string(list_sort(list_distinct(string_split(
               translate(trim(replace(coalesce(text, ''), chr(0), '__NUL_c7f3a9__')),
                         'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         'abcdefghijklmnopqrstuvwxyz'), ' '))), ' '))
               AS fingerprint,
           CAST(len(list_distinct(string_split(
               translate(trim(replace(coalesce(text, ''), chr(0), '__NUL_c7f3a9__')),
                         'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         'abcdefghijklmnopqrstuvwxyz'), ' ')))
                AS INT) AS vocab_size
    FROM documents
    """,
    section=SECTION,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: sha256 over the sorted distinct
    word set (word-order-invariant — catches shuffled plagiarism the
    exact hash misses; the rolling-hash/winnowing variant is the
    MinHash path in operators.dedup). Case folding is the A-Z-only
    ascii_lower: full-Unicode lower() hashes DIFFERENT bytes per
    engine on full-vs-simple case-mapping gaps (İ, round-6 unicode
    sweep), and a fingerprint must be bit-stable across engines.

    NUL bytes are substituted with a sentinel token BEFORE the token
    pipeline, on both sides (round-8 NUL sweep): DuckDB silently
    hashes the WRONG BYTES whenever sha256(VARCHAR) consumes a
    COMPOSED string carrying \\x00 — and which bytes depends on plan
    shape (the same string as a bound parameter or plain column
    hashes correctly; adding or removing sibling projections changes
    the result), so no computed-NUL-string may reach any downstream
    DuckDB expression. Substituting at the scan edge keeps the whole
    pipeline NUL-free on both engines; clean docs are untouched
    (values unchanged on every pre-round-8 fixture)."""
    d = t(spark, sf_dir, "documents")
    # NULL text → '' on BOTH sides (round-6 null sweep: Spark's
    # concat_ws silently skips a NULL array, hashing '' while DuckDB
    # NULLs the whole row).
    clean = F.replace(
        F.coalesce(F.col("text"), F.lit("")), F.lit("\x00"), F.lit("__NUL_c7f3a9__")
    )
    norm_words = F.split(ascii_lower(F.trim(clean)), " ")
    return d.select(
        "doc_id",
        F.sha2(F.concat_ws(" ", F.array_sort(F.array_distinct(norm_words))), 256).alias("fingerprint"),
        F.size(F.array_distinct(norm_words)).alias("vocab_size"),
    )


def _doc_fanout(spark: SparkSession, sf_dir: str) -> int:
    """Python-worker fan-out for the multimodal mapInPandas passes,
    derived from the documents FOOTER row count (round-14; the
    C7/udf_pandas and vec_pca pattern): the corpus ships as one
    single-row-group file at every local fixture, so the scan feeds
    ONE Python worker no matter how many byte-range splits Spark
    plans. One partition per 50k docs, capped at the session's cores;
    below 2 the repartition is SKIPPED, so every graded-SF plan stays
    bit-identical to the historical form. A real 100 TB corpus
    parallelizes by file count natively."""
    from hbase_sep_spark.io import fanout

    return fanout(sf_dir, "documents", 50_000, spark.sparkContext.defaultParallelism)


@register(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
           substring(lower(hex(encode(coalesce(text, '')))), 1, 16) AS head_hex,
           CAST(1 + (octet_length(encode(coalesce(text, ''))) * 31) % 1024
                AS INT) AS width,
           CAST(1 + (octet_length(encode(coalesce(text, ''))) * 17) % 768
                AS INT) AS height,
           false AS decoded,
           lang
    FROM documents
    """,
    section=SECTION,
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: an opaque `binary` payload column +
    typed metadata struct, pushed through a mapInPandas decode stage.

    The decode is codec-gated per payload: when PIL is importable,
    each payload is tried as a real image and yields its true
    (width, height); payloads that aren't decodable images — all of
    them in this container, where the payloads are UTF-8 text bytes
    and no codecs are installed — fall back to deterministic fake
    dimensions derived from the payload length, with `decoded=false`
    flagging the fallback. The Spark-side plumbing — binary column,
    Arrow batch iteration, schema, partition behavior — is real
    either way, and the ORACLE recomputes the fallback features from
    the source text, so the mapInPandas path is value-checked, not
    just executed. The oracle slices the BYTE prefix (hex the whole
    encoded blob, take 16 hex chars) — slicing 8 *characters* before
    encoding diverges on any multibyte corpus (round-6 unicode sweep;
    DuckDB 1.0 has no BLOB substring, hex-then-slice is equivalent).
    """
    d = t(spark, sf_dir, "documents")
    # NULL text → empty payload on BOTH sides: a null-bearing fixture
    # would otherwise crash the Python worker on len(None) (null
    # sweep, round 6) while the oracle NULLed the whole row.
    # Round-14 §4.1: only `lang` of the old (lang, source, n_chars)
    # metadata struct was ever read by the decode stage — the unused
    # fields no longer cross the Arrow boundary — and the fan-out
    # repartition spreads the per-payload decode attempts across
    # Python workers (the corpus file is a single row group: the scan
    # otherwise feeds ONE worker; 2.08 → 0.40 s solo at sf10).
    with_payload = d.select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
        "lang",
    )
    if _doc_fanout(spark, sf_dir) >= 2:
        with_payload = with_payload.repartition(_doc_fanout(spark, sf_dir))

    out_schema = (
        "doc_id long, n_bytes long, head_hex string, width int, height int, "
        "decoded boolean, lang string"
    )

    def decode_batch(batches):
        try:
            import io as _io

            from PIL import Image

            def dims(b):
                try:
                    with Image.open(_io.BytesIO(bytes(b))) as im:
                        return im.size
                except Exception:  # noqa: BLE001 - not an image: fall back
                    return None

        except ImportError:

            def dims(b):
                return None

        for pdf in batches:
            if len(pdf) == 0:  # an empty post-repartition batch
                continue
            payloads = pdf["payload"]
            real = payloads.map(dims)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "head_hex": payloads.map(lambda b: bytes(b[:8]).hex()),
                    "width": [
                        r[0] if r else 1 + (len(b) * 31) % 1024
                        for r, b in zip(real, payloads)
                    ],
                    "height": [
                        r[1] if r else 1 + (len(b) * 17) % 768
                        for r, b in zip(real, payloads)
                    ],
                    "decoded": real.map(lambda r: r is not None),
                    "lang": pdf["lang"],
                }
            )

    return with_payload.mapInPandas(decode_batch, schema=out_schema)


@register("dedup_clusters", oracle=None, memoize=True, section=SECTION)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS (connected components by
    iterative min-label propagation, operators.dedup) → one keep/drop
    decision per group: the final stage of a dedup pipeline. Output:
    non-singleton clusters with canonical doc and member count."""
    corpus = _docs_with_redelivered_ext(spark, sf_dir)
    pairs = D.minhash_near_dup_pairs(corpus, threshold=0.5)
    comps = D.connected_components(pairs, corpus.select("doc_id"))
    return (
        comps.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("canonical_doc_id"),
            arr_str(F.array_sort(F.collect_list("doc_id"))).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
        .select("cluster_id", "canonical_doc_id", "n_members", "member_ids")
    )


def _docs_with_redelivered_ext(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    copies = d.filter(F.col("doc_id") % 7 == 0).withColumn("doc_id", F.col("doc_id") + 100000)
    return d.unionByName(copies)


@register(
    "sample_stratified_docs",
    oracle="""
    SELECT lang,
           count(*) AS n_sampled,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents
    WHERE lang <> 'en' OR doc_id % 10 = 0
    GROUP BY lang
    """,
    section=SECTION,
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified class rebalancing — the majority class (en) is
    deterministically downsampled to ~10% (doc_id mod 10; in
    production the mod runs on a hash of a stable id, same shape),
    minority classes kept whole. The sample is a pure scan predicate:
    no shuffle, no RNG state, reproducible across runs and engines —
    the property a training-data sampling step must have."""
    d = t(spark, sf_dir, "documents")
    sampled = d.filter((F.col("lang") != "en") | (F.col("doc_id") % 10 == 0))
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "text_chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST(s // 150 AS INT) AS chunk_idx,
           CAST(s AS INT) AS chunk_start,
           CAST(len(substring(text, s + 1, 200)) AS INT) AS chunk_len,
           substring(text, s + 1, 20) AS chunk_head
    FROM (SELECT doc_id, text, unnest(range(0, greatest(n_chars, 1), 150)) AS s
          FROM documents)
    """,
    section=SECTION,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (200-char chunks, 50-char
    overlap → stride 150) — the context-window prep every training /
    RAG pipeline runs. Chunk starts come from a generated sequence
    exploded per doc (generate-side, no shuffle at all); the chunk
    text itself stays a substring expression so only the projected
    head/length leave the scan."""
    d = t(spark, sf_dir, "documents")
    starts = F.sequence(F.lit(0), F.greatest(F.col("n_chars"), F.lit(1)) - 1, F.lit(150))
    return (
        d.select("doc_id", "text", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / 150).cast("int").alias("chunk_idx"),
            F.col("s").cast("int").alias("chunk_start"),
            F.length(F.substring(F.col("text"), F.col("s") + 1, 200)).alias("chunk_len"),
            F.substring(F.col("text"), F.col("s") + 1, 20).alias("chunk_head"),
        )
    )


@register(
    "text_redact_numbers",
    oracle=r"""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_redacted
    FROM events
    WHERE event_id <= 5000
    """,
    section=SECTION,
)
def text_redact_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbing pass over the opaque payload — the PII-redaction
    shape (here: every digit run → '<NUM>', with a per-row count of
    redactions). Pure codegen regexp over the scan; at 100 TB this is
    exactly how a redaction pass runs — no shuffle, no Python."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") <= 5000)
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("props_redacted"),
        F.regexp_count("props", F.lit("[0-9]+")).cast("int").alias("n_redacted"),
    )


_DUCK_LANG_PRED = """
    CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
         WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
         WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         WHEN hits_fr >= hits_zh THEN 'fr'
         ELSE 'zh' END
"""

_DUCK_QUALITY = f"""
    round(
      (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END) * 0.4
    + (CASE WHEN CAST(n_chars AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)
                 BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END) * 0.4
    + (CASE WHEN len(list_intersect(string_split(text, ' '),
          [{", ".join(f"'{s}'" for lst in T.STOPWORDS.values() for s in lst)}])) > 0
       THEN 1.0 ELSE 0.7 END) * 0.2, 4)
"""


@register(
    "pipeline_training_prep",
    oracle=f"""
    WITH corpus AS (
        SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id % 7 = 0
    ),
    scored AS (
        SELECT doc_id,
               sha256(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                'abcdefghijklmnopqrstuvwxyz')) AS digest,
               {_DUCK_QUALITY} AS quality,
               len(string_split(text, ' ')) AS n_tokens,
               {_DUCK_LANGID}
        FROM corpus
    ),
    kept AS (
        SELECT doc_id, digest, quality, n_tokens,
               {_DUCK_LANG_PRED} AS lang_pred,
               row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM scored
        WHERE quality >= 0.8
    )
    SELECT lang_pred,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_dropped,
           CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS total_tokens,
           CAST(round(CAST(CAST(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS avg_quality
    FROM kept
    GROUP BY lang_pred
    """,
    section=SECTION,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep — the composition the individual
    operators exist for: language-ID → quality gate → exact dedup →
    per-language corpus stats, in ONE declarative plan (Catalyst fuses
    the scoring stages into the scan; the only shuffles are the dedup
    window on the 32-byte digest and the final tiny aggregate — the
    text column is dropped before anything shuffles).

    Output per predicted language: docs surviving the quality gate,
    duplicates dropped, total whitespace tokens of the deduped corpus,
    mean quality (decimal-exact avg)."""
    corpus = _docs_with_redelivered_ext(spark, sf_dir)
    scores = T.langid_scores()
    langs = ["de", "en", "es", "fr", "zh"]
    pred = F.lit("zh")
    for i in range(len(langs) - 2, -1, -1):
        lang = langs[i]
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)

    scored = corpus.select(
        "doc_id",
        F.sha2(ascii_lower(F.trim(F.col("text"))), 256).alias("digest"),
        T.quality_score().alias("quality"),
        T.token_count_ws().cast("long").alias("n_tokens"),
        pred.alias("lang_pred"),
    ).filter(F.col("quality") >= 0.8)

    w = Window.partitionBy("digest").orderBy("doc_id")
    kept = scored.withColumn("rn", F.row_number().over(w))
    return kept.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dups_dropped"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(F.lit(0))).alias("total_tokens"),
        F.round(F.sum(F.col("quality").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4).alias("avg_quality"),
    )


@register(
    "pipeline_sequence_pack",
    oracle="""
    WITH tokd AS (
        SELECT doc_id,
               coalesce(lang, '??') || '/' || CAST(doc_id % 8 AS VARCHAR) AS shard,
               len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
        FROM documents
    )
    SELECT doc_id,
           shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS token_offset,
           CAST((sum(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS pack_id
    FROM tokd
    WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    section="2.11-ext",
)
def pipeline_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): assign every doc
    the index of the 512-token training sequence where its first
    token lands, per shard — the standard LLM-pretraining packing
    where shard token streams are concatenated in a deterministic
    order (doc_id) and sliced into fixed-length sequences.

    Scale shape: packing is per-(lang, doc_id%8) shard, so the only
    shuffle is a window partitioned by shard — embarrassingly
    parallel, no global order. At 100 TB the bucket count is the
    parallelism knob (here 8 per lang; a cluster run would use
    O(total_tokens / 10^9) buckets). Token counts use the BPE-ish
    word regex ([A-Za-z0-9]+ runs), identical in the oracle."""
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)"))
    # coalesce on BOTH sides: concat_ws silently drops NULLs while the
    # oracle's `||` propagates them — a NULL lang must shard the same way
    # in both engines (portable.py NULL-key rule).
    shard = F.concat_ws(
        "/", F.coalesce(F.col("lang"), F.lit("??")), (F.col("doc_id") % 8).cast("string")
    )
    tokd = docs.select(
        "doc_id", shard.alias("shard"), n_tokens.cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return tokd.select(
        "doc_id",
        "shard",
        "n_tokens",
        off.alias("token_offset"),
        # floor of a long/512 double division is exact far beyond any
        # realistic shard token count (2^53), and matches BIGINT `//`.
        F.floor(off / F.lit(512)).cast("long").alias("pack_id"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n_bytes
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_bytes,
               unnest(range(0, 1 + n_bytes % 64, 5)) AS frame_idx
        FROM f
    )
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 4096 AS BIGINT) AS frame_offset,
           CAST(((doc_id * 1000003 + frame_idx * 97) % 2147483647
                 + 2147483647) % 2147483647 AS BIGINT)
               AS frame_sig
    FROM s
    """,
    section=SECTION,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over an opaque binary payload — the
    fan-out half of the multimodal story (decode_stub is 1:1; this is
    1:N): mapInPandas turns each payload row into one row per sampled
    frame (every 5th of the payload's frame count), with the decode
    itself stubbed deterministically (frame count/offsets derived
    from byte length; no video codecs in this container — a real
    deployment swaps `fake_frames` for pyav/ffmpeg frame extraction
    with the SAME schema and batch shape).

    Scale shape: pure mapInPandas — no shuffle at all; fan-out
    happens inside each Arrow batch, and a 100 TB video corpus
    parallelizes by input split. The oracle recomputes the stub
    arithmetic in SQL, so the fan-out path is value-checked.

    frame_sig is non-negative by contract: numpy's % is FLOOR-mod
    while DuckDB's is trunc-mod, so a negative doc_id diverged until
    the oracle wrapped its % into the floor form (round-8
    negative-id sweep; values identical for doc_id ≥ 0).

    Round-14 (§4.1 "pass only the columns the function needs"): the
    stub's only payload-derived input is the BYTE LENGTH, so
    octet_length is computed JVM-side and the Arrow boundary carries
    two narrow longs per doc instead of the whole payload — the full
    text bytes were being shipped to Python just to take len() (3.41
    → 0.44 s solo at sf10 with the fan-out below). A real deployment
    swapping `fake_frames` for pyav/ffmpeg re-adds the payload column
    to the select — the batch shape and schema are unchanged."""
    d = t(spark, sf_dir, "documents")
    # NULL text → empty payload (see multimodal_decode_stub);
    # octet_length(encode(x)) == len(payload bytes) exactly.
    with_payload = d.select(
        "doc_id",
        F.octet_length(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
        .cast("long")
        .alias("n_bytes"),
    )
    if _doc_fanout(spark, sf_dir) >= 2:  # single-row-group corpus file
        with_payload = with_payload.repartition(_doc_fanout(spark, sf_dir))

    out_schema = (
        "doc_id long, n_bytes long, frame_idx int, frame_offset long, frame_sig long"
    )

    def sample_frames(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:  # an empty post-repartition batch
                continue
            n_bytes = pdf["n_bytes"].to_numpy(dtype="int64")
            doc_ids = pdf["doc_id"].to_numpy(dtype="int64")
            n_frames = 1 + n_bytes % 64
            reps = (n_frames + 4) // 5  # frames 0,5,10,... < n_frames
            doc_rep = np.repeat(doc_ids, reps)
            bytes_rep = np.repeat(n_bytes, reps)
            # per-row ramp: 0,1,2,... within each doc's repeat block
            ramp = np.arange(reps.sum()) - np.repeat(
                np.concatenate(([0], np.cumsum(reps)[:-1])), reps
            )
            frame_idx = (ramp * 5).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": doc_rep,
                    "n_bytes": bytes_rep,
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_offset": frame_idx * 4096,
                    "frame_sig": (doc_rep * 1000003 + frame_idx * 97) % 2147483647,
                }
            )

    return with_payload.mapInPandas(sample_frames, schema=out_schema)


@register(
    "text_contamination_check",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(CASE WHEN len(ws) >= 3
                           THEN list_transform(range(1, len(ws) - 1),
                                i -> array_to_string(list_slice(ws, i, i + 2), ' '))
                           ELSE [array_to_string(ws, ' ')] END) AS shingle
        FROM w
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0),
    corpus AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 13 <> 0),
    totals AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, count(*) AS n_contaminated
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(h.n_contaminated AS BIGINT) AS n_contaminated,
           CAST(round(CAST(CAST(CAST(h.n_contaminated AS DOUBLE) / t.n_shingles AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)
               AS contamination_ratio
    FROM totals t JOIN hits h ON t.doc_id = h.doc_id
    """,
    section=SECTION,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the eval-hygiene pass every LLM
    training corpus needs: flag corpus documents sharing any word
    3-shingle with a held-out benchmark set (here doc_id % 13 == 0
    stands in for the benchmark), reporting the contaminated-shingle
    fraction per document.

    Scale shape: the benchmark shingle set is tiny next to the corpus
    → distinct + broadcast; the corpus side is one explode + distinct
    (shuffle carries shingle strings once — at 100 TB you'd join on
    xxhash64 digests instead, same plan, 8-byte keys; kept as strings
    here so the DuckDB oracle can replay the join exactly)."""
    d = t(spark, sf_dir, "documents")
    # NULL text → '' on BOTH sides (round-6 null sweep).
    sh = d.select(
        "doc_id",
        F.explode(T.shingles(F.coalesce(F.col("text"), F.lit("")), 3)).alias(
            "shingle"
        ),
    )
    bench = (
        sh.filter(F.col("doc_id") % 13 == 0).select("shingle").distinct()
    )
    corpus = sh.filter(F.col("doc_id") % 13 != 0).distinct()
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    ratio = F.col("n_contaminated").cast("double") / F.col("n_shingles")
    return (
        totals.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(ratio, 4).alias("contamination_ratio"),
        )
    )


@register(
    "sample_bernoulli_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ((CAST(doc_id AS BIGINT) % 2147483648) * 2654435761) % 4294967296
          < 0.2 * 4294967296
    """,
    section=SECTION,
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sampling (p = 0.2) via a Knuth
    multiplicative hash threshold — the reproducible row sample every
    data pipeline needs (TABLESAMPLE and rand() are
    nondeterministic across engines, runs, and partitionings; a pure
    arithmetic hash on the key is identical everywhere and stable
    under repartitioning, so the sample is auditable and re-joinable
    at any later stage). Overflow-safe exact integer arithmetic
    (portable.knuth_hash: id reduced mod 2^31 before the multiply, so
    ANSI can never overflow at any id scale), portable across both
    engines. The filter is a scan-level predicate — no shuffle, no
    state."""
    d = t(spark, sf_dir, "documents")
    u = knuth_hash("doc_id")
    return d.filter(u < F.lit(0.2 * 4294967296)).select("doc_id", "lang", "n_chars")
