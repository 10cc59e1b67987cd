r"""Text-analysis queries over the documents table (LLM-pipeline ops):
token counting, language ID, quality scoring, fingerprinting, and a
per-source corpus profile. Each Spark expression has an exact DuckDB
twin (same regexes — Java and RE2 agree on \p{L}/\p{N}/\b here; rolling
hash proven byte-identical on Unicode inputs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingtwitter_presidential_spark.functions import text_stats as ts
from sparkstreamingtwitter_presidential_spark.io import load_table
from sparkstreamingtwitter_presidential_spark.queries.registry import query
from sparkstreamingtwitter_presidential_spark.queries.staging import staged

# DuckDB twins of the shared expressions (same constants/regexes).
_DUCK_WS = r"len(string_split_regex(trim(text), '\s+'))"
_DUCK_BPE = r"len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]'))"
_DUCK_PUNCT_HITS = r"""len(regexp_extract_all(text, '[.,;:!?''"()\-]'))"""
_DUCK_HITS = {
    lang: rf"len(regexp_extract_all(lower(text), '{pat}'))"
    for lang, pat in ts.LANG_STOPWORDS.items()
}
_DUCK_FP = """
    list_reduce(
      list_prepend(0::BIGINT,
        list_transform(regexp_extract_all(text, '.'), c -> ascii(c)::BIGINT)),
      (acc, c) -> (acc * 31 + c) % 1000000007)
"""


@query(
    "text_token_counts",
    oracle=f"""
        SELECT doc_id,
               {_DUCK_WS} AS ws_tokens,
               {_DUCK_BPE} AS bpe_tokens
        FROM documents WHERE text IS NOT NULL
    """,
    doc="whitespace + BPE-ish regex token counts per document",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        ts.ws_token_count("text").alias("ws_tokens"),
        ts.bpe_token_count("text").alias("bpe_tokens"),
    )


def _duck_lang_id_sql() -> str:
    """CASE-chain twin of functions.text_stats.lang_id (same tiebreak)."""
    hits = _DUCK_HITS
    best = "greatest({})".format(", ".join(hits[lang] for lang in ts.LANG_STOPWORDS))
    whens = "\n".join(
        f"WHEN {hits[lang]} = best THEN '{lang}'" for lang in ts.LANG_STOPWORDS
    )
    return f"""
        SELECT doc_id, CASE WHEN best > 0 THEN (CASE {whens} END)
                            ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, text, {best} AS best
              FROM documents WHERE text IS NOT NULL)
    """


@query(
    "text_lang_id",
    oracle=_duck_lang_id_sql(),
    doc="stopword-heuristic language ID with deterministic tiebreak",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", ts.lang_id("text").alias("lang_pred"))


@query(
    "text_quality_scores",
    oracle=f"""
        SELECT doc_id,
               floor((0.5 * least(1.0, {_DUCK_WS} / 64.0)
                   + 0.3 * least(1.0, 4.0 * (CASE WHEN {_DUCK_WS} > 0
                         THEN {_DUCK_HITS['en']}::DOUBLE / {_DUCK_WS} ELSE 0 END))
                   + 0.2 * (1.0 - least(1.0, 4.0 * (CASE WHEN length(text) > 0
                         THEN {_DUCK_PUNCT_HITS}::DOUBLE / length(text) ELSE 0 END))))
                     * 10000.0 + 0.5) / 10000.0 AS quality
        FROM documents WHERE text IS NOT NULL
    """,
    doc="composite length/stopword/punctuation quality score in [0,1]",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", ts.quality_score("text").alias("quality"))


@query(
    "text_fingerprints",
    oracle=f"""
        SELECT doc_id, {_DUCK_FP} AS fp
        FROM documents WHERE text IS NOT NULL
    """,
    doc="rolling polynomial hash fingerprint (engine-portable, one pass)",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", ts.fingerprint("text").alias("fp"))


@query(
    "text_corpus_profile_by_source",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               floor((avg(n_chars)) * 10000 + 0.5) / 10000 AS avg_chars,
               floor((avg({_DUCK_WS})) * 10000 + 0.5) / 10000 AS avg_tokens,
               count(DISTINCT lang) AS n_langs
        FROM documents WHERE text IS NOT NULL
        GROUP BY source
    """,
    doc="per-source corpus profile: doc counts, avg length, lang spread",
)
def text_corpus_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.floor((F.avg("n_chars")) * 10000 + F.lit(0.5)) / 10000).alias("avg_chars"),
        (F.floor((F.avg(ts.ws_token_count("text"))) * 10000 + F.lit(0.5)) / 10000).alias("avg_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing + deterministic dataset mixing (pipeline extensions).
# ---------------------------------------------------------------------------

#: Synthesized contact tail so the fixture (clean synthetic prose)
#: actually exercises every redaction category; both engines build the
#: identical string from doc_id.
_DUCK_SYNTH = (
    "text || ' Contact user' || lpad(CAST(doc_id AS VARCHAR), 4, '0')"
    " || '@example.com or +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')"
    " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"
)


@query(
    "text_pii_scrub",
    oracle=f"""
        WITH synth AS (
            SELECT doc_id, {_DUCK_SYNTH} AS t FROM documents
            WHERE text IS NOT NULL
        ),
        s1 AS (SELECT doc_id, t,
                      len(regexp_extract_all(t, '{ts.PII_EMAIL_RE}')) AS n_emails,
                      regexp_replace(t, '{ts.PII_EMAIL_RE}', '[EMAIL]', 'g') AS t1
               FROM synth),
        s2 AS (SELECT doc_id, n_emails,
                      len(regexp_extract_all(t1, '{ts.PII_IP_RE}')) AS n_ips,
                      regexp_replace(t1, '{ts.PII_IP_RE}', '[IP]', 'g') AS t2
               FROM s1),
        s3 AS (SELECT doc_id, n_emails, n_ips,
                      len(regexp_extract_all(t2, '{ts.PII_PHONE_RE}')) AS n_phones,
                      regexp_replace(t2, '{ts.PII_PHONE_RE}', '[PHONE]', 'g') AS clean_text
               FROM s2)
        SELECT doc_id, clean_text, n_emails, n_ips, n_phones FROM s3
    """,
    doc=(
        "NEW: PII redaction (email/IPv4/phone -> typed placeholders) with "
        "per-category audit counts; RE2-compatible regexes so the oracle "
        "applies the identical chain"
    ),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pad = F.lpad(F.col("doc_id").cast("string"), 4, "0")
    synth = F.concat(
        F.col("text"),
        F.lit(" Contact user"), pad,
        F.lit("@example.com or +1-555-"), pad,
        F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
    )
    d = d.select("doc_id", synth.alias("t"))
    counts = ts.pii_counts(F.col("t"))
    return d.select(
        "doc_id",
        ts.scrub_pii(F.col("t")).alias("clean_text"),
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
    )


#: Dataset-mixing weights for the fixture's 20 sources: upweight the
#: first five, midweight the next five, tail-sample the rest.
_MIX_RATES = {f"src{i}": 0.5 for i in range(5)} | {f"src{i}": 0.25 for i in range(5, 10)}
_MIX_DEFAULT = 0.05


def _duck_mix_threshold() -> str:
    from sparkstreamingtwitter_presidential_spark.operators import sampling as smp

    hi = ", ".join(f"'src{i}'" for i in range(5))
    mid = ", ".join(f"'src{i}'" for i in range(5, 10))
    return (
        f"CASE WHEN source IN ({hi}) THEN {smp.rate_threshold(0.5)} "
        f"WHEN source IN ({mid}) THEN {smp.rate_threshold(0.25)} "
        f"ELSE {smp.rate_threshold(_MIX_DEFAULT)} END"
    )


@query(
    "sample_documents_stratified",
    oracle=f"""
        -- pmod-equivalent ((x % m) + m) % m: DuckDB's % takes the
        -- dividend's sign while Spark's pmod is non-negative; this form
        -- agrees for ALL int64 ids, negative included (advice r2)
        SELECT doc_id, source FROM documents
        WHERE (((doc_id * 2654435761) % 2147483648) + 2147483648) % 2147483648
              < ({_duck_mix_threshold()})
    """,
    doc=(
        "NEW: deterministic dataset mixing — per-source keep rates via "
        "integer multiplicative hash of doc_id (no floats, no "
        "seed-dependence); exact cross-engine row selection"
    ),
)
def sample_documents_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.operators import sampling as smp

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return smp.stratified_sample(d, "doc_id", "source", _MIX_RATES, _MIX_DEFAULT)


#: Oversampling mix: "2 parts src0/src1, 1.5 parts src2/src3, 0.4 parts
#: src4" — integer parts become full epoch copies, fractions become
#: epoch-salted hash selections.
_MIX_PARTS = {"src0": 2.0, "src1": 2.0, "src2": 1.5, "src3": 1.5, "src4": 0.4}


def _duck_epoch_hash(epoch: int) -> str:
    from sparkstreamingtwitter_presidential_spark.operators import sampling as smp

    x = f"(doc_id + {epoch * smp.EPOCH_SALT})"
    return (
        f"((({x} * {smp.HASH_MULT}) % {smp.HASH_MOD}) + {smp.HASH_MOD})"
        f" % {smp.HASH_MOD}"
    )


def _duck_mix_epochs() -> str:
    from sparkstreamingtwitter_presidential_spark.operators import sampling as smp

    return f"""
        SELECT doc_id, source, 0 AS epoch FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
           OR (source = 'src4'
               AND {_duck_epoch_hash(0)} < {smp.rate_threshold(0.4)})
        UNION ALL
        SELECT doc_id, source, 1 AS epoch FROM documents
        WHERE source IN ('src0', 'src1')
           OR (source IN ('src2', 'src3')
               AND {_duck_epoch_hash(1)} < {smp.rate_threshold(0.5)})
    """


@query(
    "mix_documents_weighted",
    oracle=_duck_mix_epochs(),
    doc=(
        "NEW r4: weighted corpus mixing WITH oversampling — weights > 1 "
        "produce full epoch copies plus an epoch-salted fractional "
        "selection (2 parts src0/src1, 1.5 parts src2/src3, 0.4 parts "
        "src4), tagged with the copy number for downstream interleave; "
        "pure integer arithmetic, identical row selection in the oracle"
    ),
)
def mix_documents_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.operators import sampling as smp

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return smp.weighted_mix(d, "doc_id", "source", _MIX_PARTS)


def _duck_repetition_cte() -> str:
    """DuckDB twin of the materialized lines/words/bigrams arrays (same
    1-based indexing, same trim/filter semantics)."""
    return r"""
        SELECT doc_id,
               text,
               list_filter(list_transform(string_split(text, chr(10)),
                                          x -> trim(x)),
                           x -> length(x) > 0) AS lines,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> length(x) > 0) AS words
        FROM documents WHERE text IS NOT NULL
    """


_DUCK_R4 = "floor({} * 10000 + 0.5) / 10000"


def _duck_repetition_signals() -> str:
    lines_tot = ("coalesce(list_aggregate(list_transform(lines, "
                 "x -> length(x)), 'sum'), 0)")
    lines_dis = ("coalesce(list_aggregate(list_transform(list_distinct(lines), "
                 "x -> length(x)), 'sum'), 0)")
    words_tot = ("coalesce(list_aggregate(list_transform(words, "
                 "x -> length(x)), 'sum'), 0)")
    bullet = ("len(list_filter(lines, x -> left(x, 1) IN ('-', '*', '•')))")
    ellipsis = ("len(list_filter(lines, x -> right(x, 3) = '...' "
                "OR right(x, 1) = '…'))")
    symbol = r"len(regexp_extract_all(text, '(#|\.\.\.|…)'))"
    exprs = {
        "mean_word_len": f"CASE WHEN len(words) > 0 THEN {words_tot}::DOUBLE / len(words) ELSE 0.0 END",
        "dup_line_frac": "CASE WHEN len(lines) > 0 THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines) ELSE 0.0 END",
        "dup_line_char_frac": f"CASE WHEN {lines_tot} > 0 THEN ({lines_tot} - {lines_dis})::DOUBLE / {lines_tot} ELSE 0.0 END",
        "dup_bigram_frac": "CASE WHEN len(bigrams) > 0 THEN (len(bigrams) - len(list_distinct(bigrams)))::DOUBLE / len(bigrams) ELSE 0.0 END",
        "bullet_line_frac": f"CASE WHEN len(lines) > 0 THEN {bullet}::DOUBLE / len(lines) ELSE 0.0 END",
        "ellipsis_line_frac": f"CASE WHEN len(lines) > 0 THEN {ellipsis}::DOUBLE / len(lines) ELSE 0.0 END",
        "symbol_word_ratio": f"CASE WHEN len(words) > 0 THEN {symbol}::DOUBLE / len(words) ELSE 0.0 END",
    }
    t = {
        "min_words": 20, "max_words": 100_000,
        "min_mwl": 2.0, "max_mwl": 12.0,
    }
    pass_expr = (
        f"len(words) >= {t['min_words']} AND len(words) <= {t['max_words']}"
        f" AND ({exprs['mean_word_len']}) >= {t['min_mwl']}"
        f" AND ({exprs['mean_word_len']}) <= {t['max_mwl']}"
        f" AND ({exprs['dup_line_frac']}) <= 0.30"
        f" AND ({exprs['dup_line_char_frac']}) <= 0.20"
        f" AND ({exprs['dup_bigram_frac']}) <= 0.40"
        f" AND ({exprs['bullet_line_frac']}) <= 0.90"
        f" AND ({exprs['ellipsis_line_frac']}) <= 0.30"
        f" AND ({exprs['symbol_word_ratio']}) <= 0.10"
    )
    rounded = ",\n               ".join(
        f"{_DUCK_R4.format('(' + e + ')')} AS {name}"
        for name, e in exprs.items()
    )
    return f"""
        WITH base AS ({_duck_repetition_cte()}),
        arrs AS (
            SELECT doc_id, text, lines, words,
                   CASE WHEN len(words) >= 2
                        THEN list_transform(range(1, len(words)),
                                            i -> words[i] || ' ' || words[i + 1])
                        ELSE [] END AS bigrams
            FROM base
        )
        SELECT doc_id,
               len(words) AS n_words,
               {rounded},
               ({pass_expr}) AS gopher_ok
        FROM arrs
    """


@query(
    "text_repetition_signals",
    oracle=_duck_repetition_signals(),
    doc=(
        "NEW r4: Gopher-style repetition/structure quality signals — "
        "duplicate-line fraction (count and character mass), repeated "
        "adjacent-bigram fraction, bullet/ellipsis line fractions, "
        "symbol-to-word ratio, mean word length, and the conjunctive "
        "acceptance verdict. Arrays are materialized as projected "
        "columns before any higher-order function touches them "
        "(DESIGN.md HOF lesson); every ratio is integer-count division, "
        "so the DuckDB twin is bit-exact"
    ),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    arrs = d.select(
        "doc_id",
        "text",
        ts.clean_lines("text").alias("lines"),
        ts.clean_words("text").alias("words"),
    ).select(
        "doc_id", "text", "lines", "words",
        ts.word_bigrams("words").alias("bigrams"),
    )

    def _r4(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    return arrs.select(
        "doc_id",
        F.size("words").alias("n_words"),
        _r4(ts.mean_word_length("words")).alias("mean_word_len"),
        _r4(ts.dup_line_fraction("lines")).alias("dup_line_frac"),
        _r4(ts.dup_line_char_fraction("lines")).alias("dup_line_char_frac"),
        _r4(ts.dup_bigram_fraction("bigrams")).alias("dup_bigram_frac"),
        _r4(ts.bullet_line_fraction("lines")).alias("bullet_line_frac"),
        _r4(ts.ellipsis_line_fraction("lines")).alias("ellipsis_line_frac"),
        _r4(ts.symbol_word_ratio("text", "words")).alias("symbol_word_ratio"),
        ts.gopher_pass("text", "lines", "words", "bigrams").alias("gopher_ok"),
    )


@query(
    "io_jsonl_roundtrip_docs",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc=(
        "NEW r4: documents -> gzip JSONL -> read-back must be the "
        "identity, including texts with embedded newlines/quotes/"
        "unicode that line formats mangle — proves the interchange "
        "path (sources/jsonl.py) end-to-end against the oracle's "
        "direct parquet read"
    ),
)
def io_jsonl_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        schema_keyed_dir,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_jsonl_docs", sf_dir, d.schema),
        lambda _s, out: write_jsonl(d, out, n_files=4),
    )
    return read_jsonl(spark, path, d.schema)


@query(
    "io_csv_roundtrip_docs",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc=(
        "NEW r5: documents -> quoted multiLine CSV -> read-back must be "
        "the identity, including embedded newlines/commas/quotes/unicode "
        "(RFC-4180 quoting) — proves the spreadsheet/annotation-vendor "
        "interchange path (sources/csv_text.py) end-to-end against the "
        "oracle's direct parquet read, the CSV twin of "
        "io_jsonl_roundtrip_docs"
    ),
)
def io_csv_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.csv_text import (
        read_csv,
        write_csv,
    )
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        schema_keyed_dir,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_csv_docs", sf_dir, d.schema),
        lambda _s, out: write_csv(d, out, n_files=4),
    )
    return read_csv(spark, path, d.schema)


@query(
    "text_c4_line_clean",
    # The fixture's documents are single-line bags of words with no
    # punctuation — real C4 rules would keep nothing and the query
    # would be a constant. Both engines therefore derive the SAME
    # deterministic multi-line corpus first (sentence breaks at
    # ' batch ', plus per-doc-id appended lines that trigger each C4
    # rule: a javascript line, a curly-brace code line, a lorem-ipsum
    # line) so every rule discriminates and the differential is real.
    oracle=r"""
        WITH synth AS (
            SELECT doc_id,
                   replace(text, ' batch ', '.' || chr(10))
                   || CASE WHEN doc_id % 7 = 0
                           THEN chr(10) || 'embedded javascript snippet here.'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN chr(10) || 'function f() { return 1; }'
                           ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN chr(10) || 'lorem ipsum dolor sit amet.'
                           ELSE '' END AS text
            FROM documents WHERE text IS NOT NULL
        ), base AS (
            SELECT doc_id, text,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              l -> trim(l)),
                               l -> length(l) > 0) AS lines
            FROM synth
        ), kept AS (
            SELECT doc_id, text, lines,
                   list_filter(lines, l ->
                       regexp_matches(l, '[.!?"'']$')
                       AND len(list_filter(string_split_regex(l, '\s+'),
                                           w -> length(w) > 0)) >= 3
                       AND NOT contains(lower(l), 'javascript')) AS kept
            FROM base
        )
        SELECT doc_id,
               len(lines) AS n_lines,
               len(kept) AS n_kept,
               (len(kept) >= 3
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')) AS keep_doc,
               coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        FROM kept
    """,
    doc=(
        "NEW r5: C4-style line-level cleaning (Raffel et al. 2020 "
        "s2.2) — keep only lines that end like sentences, carry >= 3 "
        "words, and are not javascript boilerplate; gate documents on "
        "kept-line count, 'lorem ipsum', and curly braces; emit the "
        "rejoined clean text. Lines are materialized as a projected "
        "column before the HOF filter (DESIGN.md HOF lesson); the "
        "DuckDB list-function twin reproduces the exact kept set and "
        "rejoined string on a deterministically synthesized multi-line "
        "corpus (the fixture's docs are unpunctuated single lines)"
    ),
)
def text_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    synth = F.concat(
        F.replace(F.col("text"), F.lit(" batch "), F.lit(".\n")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.lit("\nembedded javascript snippet here."),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(11)) == 0,
            F.lit("\nfunction f() { return 1; }"),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(13)) == 0,
            F.lit("\nlorem ipsum dolor sit amet."),
        ).otherwise(F.lit("")),
    )
    arrs = d.select("doc_id", synth.alias("text")).select(
        "doc_id", "text", ts.clean_lines("text").alias("lines")
    ).select(
        "doc_id", "text", "lines", ts.c4_kept_lines("lines").alias("kept")
    )
    return arrs.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size("kept").alias("n_kept"),
        ts.c4_doc_pass("text", "kept").alias("keep_doc"),
        F.concat_ws("\n", F.col("kept")).alias("clean_text"),
    )


@query(
    "io_orc_roundtrip_docs",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc=(
        "NEW r5: documents -> ORC -> read-back must be the identity — "
        "the Hive/Trino interchange format, read and written natively "
        "by Spark (splittable stripe compression, no quarantine needed: "
        "columnar formats have no NULL-vs-empty or embedded-newline "
        "ambiguity); proves sources/orc.py end-to-end against the "
        "oracle's direct parquet read"
    ),
)
def io_orc_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.orc import (
        read_orc,
        write_orc,
    )
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        schema_keyed_dir,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_orc_docs", sf_dir, d.schema),
        lambda _s, out: write_orc(d, out, n_files=4),
    )
    return read_orc(spark, path, d.schema)


@query(
    "io_partitioned_parquet_agg",
    oracle="""
        SELECT source, lang, COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents WHERE source IN ('src1', 'src2')
        GROUP BY source, lang
    """,
    doc=(
        "NEW r5: hive-style partitioned data-lake layout — documents "
        "written partitionBy(source) (one directory per value), read "
        "back via partition discovery with a partition-column filter "
        "that Catalyst turns into PartitionFilters (whole directories "
        "pruned before any file is opened — the layout every real lake "
        "uses), then aggregated; equals the oracle's filtered aggregate "
        "over the flat table iff discovery recovers values and types "
        "and pruning removed directories, not rows"
    ),
)
def io_partitioned_parquet_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        schema_keyed_dir,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_part_docs", sf_dir, d.schema),
        lambda _s, out: d.write.partitionBy("source").parquet(out),
    )
    back = spark.read.parquet(path).filter(
        F.col("source").isin("src1", "src2")
    )
    return back.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("total_chars"),
    )


_SHUFFLE_SHARDS = 16
_SHUFFLE_SALT = 3


def _duck_sharded_shuffle() -> str:
    h = _duck_epoch_hash(_SHUFFLE_SALT)
    return f"""
        SELECT doc_id, source,
               CAST(({h}) % {_SHUFFLE_SHARDS} AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY ({h}) % {_SHUFFLE_SHARDS}
                   ORDER BY ({h}), doc_id
               ) AS INTEGER) AS pos
        FROM documents
    """


@query(
    "shuffle_documents_sharded",
    oracle=_duck_sharded_shuffle(),
    doc=(
        "NEW r5: deterministic shard-and-shuffle — the corpus "
        "randomization a trainer consumes: every doc gets a hash shard "
        "and a 1-based position within it ordered by the salted hash; "
        "one hash-partition shuffle, per-shard independent sort, no "
        "global sort or single-partition window; pure BIGINT "
        "arithmetic, so the oracle reproduces the exact permutation"
    ),
)
def shuffle_documents_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.operators import sampling as smp

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return smp.sharded_shuffle(
        d, "doc_id", n_shards=_SHUFFLE_SHARDS, salt=_SHUFFLE_SALT
    )


@query(
    "text_unigram_logprob",
    oracle=r"""
        WITH w AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                      x -> length(x) > 0)) AS w
            FROM documents WHERE text IS NOT NULL
        ),
        c AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
        t AS (SELECT SUM(c) AS t FROM c),
        s AS (
            SELECT doc_id, COUNT(*) AS n_words, SUM(ln(c.c)) AS slc
            FROM w JOIN c USING (w) GROUP BY doc_id
        )
        SELECT doc_id, n_words,
               FLOOR((ln(t.t) - slc / n_words) * 10000 + 0.5) / 10000 AS nll
        FROM s, t
    """,
    doc=(
        "NEW r5: unigram LM quality scoring (the CCNet-style "
        "perplexity-proxy filter): fit the corpus unigram model "
        "in-plan (wordcount + total), score each doc as mean negative "
        "log-likelihood ln(T) - mean(ln c(w)) — low nll = stereotyped "
        "high-frequency text, high nll = rare-token soup; both tails "
        "are the cut candidates. One wordcount shuffle + one "
        "word-join shuffle + per-doc agg; the scalar total broadcasts. "
        "Floor at 1e-4 absorbs libm ln() last-ulp differences (the "
        "BM25 rule)"
    ),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = d.select(
        "doc_id", ts.clean_words("text").alias("words")
    )  # materialized projection: explode consumes a column, never a
    #    computed expression (DESIGN.md Generate-inlining lesson)
    tok = words.select("doc_id", F.explode("words").alias("w"))
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    per_doc = (
        tok.join(counts, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.log("c")).alias("slc"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_words",
        (
            F.floor(
                (F.log("t") - F.col("slc") / F.col("n_words")) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("nll"),
    )


_VOCAB_SIZE = 16


@query(
    "text_oov_rate",
    oracle=rf"""
        WITH w AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                      x -> length(x) > 0)) AS w
            FROM documents WHERE text IS NOT NULL
        ),
        c AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
        v AS (SELECT w FROM c ORDER BY c DESC, w LIMIT {_VOCAB_SIZE}),
        s AS (
            SELECT doc_id, COUNT(*) AS n_words,
                   COUNT(*) FILTER (WHERE w.w NOT IN (SELECT w FROM v))
                       AS n_oov
            FROM w GROUP BY doc_id
        )
        SELECT doc_id, n_words, n_oov,
               FLOOR(n_oov::DOUBLE / n_words * 10000 + 0.5) / 10000
                   AS oov_rate
        FROM s
    """,
    doc=(
        "NEW r5: vocabulary coverage — build the top-V corpus "
        "vocabulary in-plan (wordcount, ties broken by word for "
        "cross-engine determinism) and score every doc's "
        "out-of-vocabulary token fraction, the tokenizer-coverage "
        "signal a training pipeline gates on; the tiny vocab "
        "broadcasts, so scoring is the wordcount shuffle plus a "
        "map-side flag join"
    ),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = d.select("doc_id", ts.clean_words("text").alias("words"))
    tok = words.select("doc_id", F.explode("words").alias("w"))
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(_VOCAB_SIZE)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "w", "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
        (
            F.floor(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                .cast("double")
                / F.count("*")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("oov_rate"),
    )


_SPLIT_T1 = int(0.8 * 2**31)
_SPLIT_T2 = int(0.9 * 2**31)


@query(
    "split_documents_train_val_test",
    oracle=f"""
        -- pmod form (see sample_documents_stratified note above)
        WITH h AS (
          SELECT doc_id,
                 (((doc_id * 2654435761) % 2147483648) + 2147483648)
                     % 2147483648 AS hv
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN hv < {_SPLIT_T1} THEN 'train'
                    WHEN hv < {_SPLIT_T2} THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    """,
    doc="NEW r5: deterministic 80/10/10 train/val/test partition by id "
    "hash — exact hash-measure slices, no overlap, no shuffle",
)
def split_documents_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.operators.sampling import split_assign

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return split_assign(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


@query(
    "io_avro_roundtrip_docs",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc=(
        "NEW r5: documents -> native Avro container files -> read-back "
        "must be the identity — the Kafka/schema-registry interchange "
        "format, implemented directly against the public Avro 1.11 "
        "spec (sources/avro.py: binary encoding, deflate blocks, sync "
        "markers) since the spark-avro jar is absent; proves the "
        "encoder, the container framing, and the schema mapping "
        "end-to-end against the oracle's direct parquet read"
    ),
)
def io_avro_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.avro import read_avro, write_avro
    from sparkstreamingtwitter_presidential_spark.sources.replay import schema_keyed_dir

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_avro_docs", sf_dir, d.schema),
        lambda _s, out: write_avro(d, out, n_files=4),
    )
    return read_avro(spark, path, d.schema)


@query(
    "text_bpe_vocab_top",
    oracle=None,  # BPE merge application is iterative, not SQL-expressible;
    # train/encode are differential-tested against an independent
    # pure-Python twin in tests/test_bpe.py (merge-list equality,
    # concatenation round-trip, prefix stability).
    doc=(
        "NEW r5: distributed BPE tokenizer end-to-end — learn 48 merges "
        "from the corpus word histogram (one shuffle; driver merge loop "
        "over the bounded top slice, the production tokenizer-training "
        "split), map-only Arrow-batched encode, then the top-20 learned "
        "tokens by corpus frequency (count desc, token asc)"
    ),
)
def text_bpe_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.operators.bpe import bpe_encode, train_bpe

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = train_bpe(d, num_merges=48, max_words=50_000)
    return (
        bpe_encode(d, merges)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "io_shard_export_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc=(
        "NEW r5: documents -> deterministic JSONL training shards "
        "(shard-and-shuffle assignment, one file per shard, integrity "
        "manifest with distributed sha256/line counts) -> verify_export "
        "-> read-back must be the identity; a corrupted/lost/double-"
        "written shard fails in-query (verify raises), a row-level "
        "divergence fails the oracle hash"
    ),
)
def io_shard_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources import export as X
    from sparkstreamingtwitter_presidential_spark.sources.replay import schema_keyed_dir

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_shard_export", sf_dir, d.schema),
        lambda _s, out: X.export_jsonl_shards(d, out, "doc_id", n_shards=8),
    )
    X.verify_export(spark, path)
    return X.read_jsonl_shards(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long, shard int",
    ).drop("shard")


@query(
    "io_pipetext_connector_roundtrip",
    oracle="""
        SELECT text,
               CAST(doc_id % 90 - 45 + 0.25 AS FLOAT) AS latitude,
               CAST(doc_id % 180 - 90 + 0.5 AS FLOAT) AS longitude,
               strftime(TIMESTAMP '2024-01-01 00:00:00'
                        + (doc_id % 86400) * INTERVAL 1 SECOND,
                        '%Y-%m-%d %H:%M:%S') AS created_str
        FROM documents WHERE text IS NOT NULL
    """,
    doc=(
        "NEW r5: the pipe-text format as a REGISTERED Spark connector "
        "(Python DataSource API) — a twitter_presi-shaped derivation of "
        "documents written through df.write.format('pipetext') and read "
        "back through spark.read.format('pipetext') (per-file "
        "partitions, filter pushdown wired) must equal the oracle's "
        "direct derivation; derived floats are binary-exact (0.25/0.5) "
        "so float32 round-trips bit-clean through the text format"
    ),
)
def io_pipetext_connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.pipetext_ds import (
        register_pipetext,
    )
    from sparkstreamingtwitter_presidential_spark.sources.replay import schema_keyed_dir

    register_pipetext(spark)
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    presi = d.select(
        "text",
        (F.col("doc_id") % 90 - 45 + 0.25).cast("float").alias("latitude"),
        (F.col("doc_id") % 180 - 90 + 0.5).cast("float").alias("longitude"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,0, doc_id % 86400)"
        ).alias("created_at"),
    )
    path = staged(
        spark,
        schema_keyed_dir("spark_graft_pipetext", sf_dir, presi.schema),
        lambda _s, out: presi.write.format("pipetext").mode("append").save(out),
    )
    back = spark.read.format("pipetext").load(path)
    return back.select(
        "text",
        "latitude",
        "longitude",
        F.date_format("created_at", "yyyy-MM-dd HH:mm:ss").alias("created_str"),
    )


def _synthdocs_oracle() -> str:
    from sparkstreamingtwitter_presidential_spark.sources.synthdocs_ds import (
        synthdocs_oracle_sql,
    )

    return synthdocs_oracle_sql(2000)


@query(
    "io_synthdocs_generate",
    oracle=_synthdocs_oracle(),
    doc=(
        "NEW r5: zero-storage deterministic corpus generator as a "
        "registered Python DataSource (the dbgen pattern) — 2000 rows "
        "generated on executors from row-range partitions must equal "
        "the oracle's relational derivation over range(2000) exactly "
        "(small-modulus integer arithmetic, no 64-bit wraparound); "
        "partition-count invariance is part of the graded contract "
        "(the query reads with a different n_partitions than the "
        "default)"
    ),
)
def io_synthdocs_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.sources.synthdocs_ds import (
        register_synthdocs,
    )

    register_synthdocs(spark)
    return (
        spark.read.format("synthdocs")
        .option("n_rows", "2000")
        .option("n_partitions", "7")
        .load()
    )


@query(
    "quality_observed_metrics",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS text_nulls,
               CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS lang_nulls,
               CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_chars_nulls,
               MIN(n_chars) AS n_chars_min,
               MAX(n_chars) AS n_chars_max
        FROM documents
    """,
    doc=(
        "NEW r6: observe()-piggybacked data-quality metrics — row count, "
        "per-column null counts, numeric ranges evaluated INSIDE the "
        "scan's own job (AccumulatorV2 merge, zero extra pass — the "
        "100 TB profiling shape: metrics ride the pipeline's real write "
        "action); graded by materializing the observation dict as a "
        "1-row frame against the direct-aggregate oracle"
    ),
)
def quality_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingtwitter_presidential_spark.operators.observability import (
        observed_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = observed_profile(docs, ["text", "lang", "n_chars"])
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["text_nulls"],
                m["lang_nulls"],
                m["n_chars_nulls"],
                m["n_chars_min"],
                m["n_chars_max"],
            )
        ],
        "n_rows long, text_nulls long, lang_nulls long, n_chars_nulls long, "
        "n_chars_min int, n_chars_max int",
    )
