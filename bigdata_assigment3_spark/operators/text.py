"""Text-analysis operators over the ``documents`` table — the
LLM-data-pipeline surface (BASELINE.json north star): quality scoring,
token counting, language profiling, document fingerprinting.

No reference analog (the reference has no text analytics); designed
Spark-first: everything is column expressions / lambda higher-order
functions (filter/aggregate over split arrays) — JVM-side, no Python
UDFs, so the hot path whole-stage-codegens and scales linearly with
document count.

Cross-engine exactness: ratios are integer/integer rationals; word
hashes use the portable md5-int56 (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_int56_duck, md5_int56_spark
from ..plans.hints import bounded_broadcast
from ..registry import query
from ..session import lineage_checkpoint
from ..sources import load_table, load_table_parallel

# Shared sliding-window chunk rule (used by chunk_documents here, the
# UDTF span expander in functions2.py, and the rag_chunk_index census
# in pipeline.py — one source of truth for all three + their oracles).
CHUNK_TOKENS = 16
CHUNK_STRIDE = 8


def chunk_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, n, start) under the chunk rule: starts every
    CHUNK_STRIDE tokens; a trailing start whose window adds no token
    beyond the previous window (start > 0 AND start + stride >= n) is
    dropped."""
    toks = F.split("text", " ")
    t = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    s = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))).alias("start"),
    )
    return s.filter((F.col("start") == 0) | (F.col("start") + CHUNK_STRIDE < F.col("n")))


def chunk_spans_sql(where: str = "TRUE") -> str:
    """DuckDB CTE text for the same rule (docs filtered by ``where``),
    exposing (doc_id, toks, start)."""
    return f"""
    chunk_t AS (
        SELECT doc_id, str_split(text, ' ') AS toks
        FROM documents WHERE {where}
    ),
    chunk_s AS (
        SELECT chunk_t.doc_id, chunk_t.toks, CAST(g.i AS INTEGER) AS start
        FROM chunk_t,
             LATERAL (SELECT UNNEST(range(0, len(chunk_t.toks), {CHUNK_STRIDE})) AS i) g
        WHERE g.i = 0 OR g.i + {CHUNK_STRIDE} < len(chunk_t.toks)
    )"""

_STOPWORDS = ("the", "a", "of", "to", "and")
_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "text_quality",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, text,
             LEN(text) AS n_chars_actual,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    )
    SELECT doc_id, lang, n_chars_actual,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS BIGINT) AS n_stop,
           ROUND(CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS DOUBLE)
                 / len(words), 6) AS stop_ratio,
           ROUND(CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE) / len(words), 6) AS avg_word_len
    FROM w WHERE len(words) > 0
    """,
    bench=True, exchanges=0,  # pure projection
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: length, word count, stopword
    ratio, mean word length — the standard LLM-corpus quality gates.

    Higher-order functions (filter over the split array) keep this
    JVM-side; at 100 TB it's a pure map stage, no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    stops = F.filter(words, lambda x: x.isin(*_STOPWORDS))
    out = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_actual"),
        F.size(words).cast("bigint").alias("n_words"),
        F.size(stops).cast("bigint").alias("n_stop"),
        F.length(F.regexp_replace("text", " ", "")).alias("n_nonspace"),
    ).filter(F.col("n_words") > 0)
    return out.select(
        "doc_id",
        "lang",
        "n_chars_actual",
        "n_words",
        "n_stop",
        F.round(F.col("n_stop").cast("double") / F.col("n_words"), 6).alias("stop_ratio"),
        F.round(F.col("n_nonspace").cast("double") / F.col("n_words"), 6).alias("avg_word_len"),
    )


@query(
    "token_counts",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS n_tokens,
           CAST(SUM(LEN(text)) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(LEN(text)) AS DOUBLE)
                 / NULLIF(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))), 0), 6)
             AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenization + per-language token accounting (the
    BPE-ish pre-tokenizer pass of an LLM pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_count("text", F.lit("[a-z0-9]+"))
    return (
        docs.select("lang", F.length("text").alias("len"), toks.alias("toks"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.sum("len").cast("bigint").alias("n_chars"),
            F.round(
                F.sum("len").cast("double") / F.nullif(F.sum("toks"), F.lit(0)), 6
            ).alias("chars_per_token"),
        )
    )


@query(
    "lang_profile",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_declared_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents
    GROUP BY lang
    """,
)
def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition profile per language (coverage/mixing stats
    a pretraining pipeline reports before sampling)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_declared_chars"
        ),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


@query(
    "langid_heuristic",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN CAST(len(list_filter(list_filter(string_split(text, ' '),
                            x -> x <> ''), x -> x IN ({_STOP_IN}))) AS DOUBLE)
                       / len(list_filter(string_split(text, ' '), x -> x <> '')) >= 0.08
                  THEN 'en_like' ELSE 'other' END AS pred
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    )
    SELECT lang, pred, COUNT(*) AS n FROM s GROUP BY lang, pred
    """,
)
def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language-ID heuristic (n-gram/stopword scoring
    — the cheap first-pass filter before a real classifier), reported
    as a (declared lang x predicted) contingency table."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    stops = F.filter(words, lambda x: x.isin(*_STOPWORDS))
    ratio = F.size(stops).cast("double") / F.size(words)
    pred = F.when(ratio >= 0.08, "en_like").otherwise("other")
    return (
        docs.filter(F.size(words) > 0)
        .select("lang", pred.alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '),
                     x -> x <> ''))) AS word
      FROM documents
    )
    SELECT doc_id,
           CAST(SUM({md5_int56_duck('word')} % 1000003) % 1000000007 AS BIGINT) AS fingerprint
    FROM w GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint (content hash for
    cheap dedup bucketing): sum of word hashes mod a prime.  Uses the
    portable md5-int56 so Spark and DuckDB agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
    exploded = docs.select("doc_id", F.explode(words).alias("word"))
    h = F.expr(md5_int56_spark("word"))
    return exploded.groupBy("doc_id").agg(
        (F.sum(h % 1000003) % 1000000007).cast("bigint").alias("fingerprint")
    )


TFIDF_K = 3  # top terms per document


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
             CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score
      FROM tf t JOIN df d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, ROUND(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) AS rn FROM scored)
    WHERE rn <= {TFIDF_K}
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-{TFIDF_K} terms per document (SURVEY §7.3 M6 text
    analysis): term frequency x inverse document frequency, ranked per
    doc with a deterministic tie-break.

    The idf factor is the exact rational N/df rather than ln(N/df):
    both damp common terms monotonically, and the rational keeps every
    score a ratio of integers (one correctly-rounded double divide), so
    Spark and DuckDB rank and hash identically — ln() would introduce
    cross-engine libm drift into the ORDER BY.

    Scale shape: two hash aggs (tf, df) + a broadcast of the tiny df
    side if AQE sizes it so, + a per-doc rank window — the standard
    inverted-index statistics pass of a text pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    w = docs.select("doc_id", F.explode(words).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = w.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size rides along as a 1-row broadcast (graph.py's pattern)
    # instead of an eager driver-side count that scans documents twice
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df, "term").crossJoin(F.broadcast(nd)).select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias("score"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= TFIDF_K)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"))
    )


# ------------------------------------------------------------ BPE learning

BPE_ROUNDS = 3


def _bpe_ctes(rounds: int = BPE_ROUNDS) -> str:
    """Unrolled BPE merge-round CTE chain with TOKEN-level merges
    (shared by the pair-merge and the encode oracles).

    A substring ``replace`` on the space-joined symbol string is wrong
    once symbols grow multi-character: pair ``h e`` would match inside
    ``... th e ...`` and glue ``th``+``e``.  The merge must operate on
    the symbol array: find positions i where (sym[i], sym[i+1]) equals
    the pair, pick non-overlapping occurrences left-to-right (within a
    run of consecutive candidate positions, every odd-numbered one),
    and join the selected adjacent pairs.  DuckDB 1.0 has no
    initial-value list_reduce, so the oracle does this relationally:
    explode positions, window-select merge starts by run parity,
    re-assemble with string_agg."""
    ctes = ["""w0 AS (
      SELECT array_to_string(list_transform(range(1, len(word)+1), i -> word[i]), ' ') AS s,
             COUNT(*) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
            FROM documents)
      GROUP BY 1
    )"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""p{r} AS (
      SELECT t.pair, SUM(freq) AS cnt FROM w{r - 1}, LATERAL (
        SELECT unnest(list_transform(range(1, len(string_split(s, ' '))), i ->
          string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1])) AS pair
      ) t GROUP BY t.pair
    )""")
        ctes.append(f"b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)")
        # Token-level merge: s is distinct per word (merging preserves the
        # concatenated word), so s itself is the partition key.
        ctes.append(f"""cd{r} AS (
      SELECT w.s AS os, w.freq, t.i,
             string_split(w.s, ' ')[t.i] AS tok,
             CASE WHEN t.i < len(string_split(w.s, ' '))
                       AND string_split(w.s, ' ')[t.i] = string_split(b.pair, ' ')[1]
                       AND string_split(w.s, ' ')[t.i + 1] = string_split(b.pair, ' ')[2]
                  THEN 1 ELSE 0 END AS cand
      FROM w{r - 1} w, b{r} b,
           LATERAL (SELECT unnest(range(1, len(string_split(w.s, ' ')) + 1)) AS i) t
    )""")
        ctes.append(f"""sl{r} AS (
      SELECT os, freq, i, tok,
             CASE WHEN cand = 1
                       AND ROW_NUMBER() OVER (PARTITION BY os, cand, grp ORDER BY i) % 2 = 1
                  THEN 1 ELSE 0 END AS sel
      FROM (SELECT *, i - ROW_NUMBER() OVER (PARTITION BY os, cand ORDER BY i) AS grp
            FROM cd{r})
    )""")
        ctes.append(f"""w{r} AS (
      SELECT string_agg(CASE WHEN sel = 1 THEN tok || ntok ELSE tok END, ' ' ORDER BY i) AS s,
             freq
      FROM (SELECT os, freq, i, sel, tok,
                   LEAD(tok) OVER (PARTITION BY os ORDER BY i) AS ntok,
                   COALESCE(LAG(sel) OVER (PARTITION BY os ORDER BY i), 0) AS psel
            FROM sl{r})
      WHERE psel = 0
      GROUP BY os, freq
    )""")
    return "WITH " + ",\n".join(ctes)


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, pair, CAST(cnt AS BIGINT) AS cnt FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_ctes(rounds) + "\n" + unions


def _bpe_encode_oracle(rounds: int = BPE_ROUNDS) -> str:
    """Apply the learned vocab: each distinct word's final token count
    comes straight from the last merge round's symbol table (the word
    itself is the symbols re-concatenated), joined back to per-doc
    word occurrences."""
    return (
        _bpe_ctes(rounds)
        + f""",
    vocab AS (
      SELECT replace(s, ' ', '') AS word,
             len(string_split(s, ' ')) AS n_tok
      FROM w{rounds}
    ),
    docw AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      FROM documents
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(len(d.word)) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(len(d.word)) AS DOUBLE) / SUM(v.n_tok), 6) AS chars_per_token
    FROM docw d JOIN vocab v USING (word)
    GROUP BY d.doc_id
    """
    )


def _bpe_learn(spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS):
    """Run the BPE merge loop; returns (final_words_df, merges) where
    final_words_df is (s: space-joined symbols, freq) after all merge
    rounds and merges is [(round, pair, cnt), ...]."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "array_join(transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1)), ' ')"
            ).alias("s"),
            "freq",
        )
    )
    merges = []
    for r in range(1, rounds + 1):
        pairs = words.select(
            F.explode(
                # guard: Spark's sequence(1, 0) DESCENDS (it is not
                # empty), so fully-merged single-symbol words need an
                # explicit empty-array branch
                F.expr(
                    "CASE WHEN size(split(s, ' ')) >= 2 THEN"
                    " transform(sequence(1, size(split(s, ' ')) - 1),"
                    " i -> concat(element_at(split(s, ' '), i), ' ',"
                    " element_at(split(s, ' '), i + 1)))"
                    " ELSE array() END"
                )
            ).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()[0]
        )
        merges.append((r, best.pair, int(best.cnt)))
        p1, p2 = best.pair.split(" ")
        folded = F.aggregate(
            F.split("s", " "),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(p1))
                & (x == F.lit(p2)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(p1 + p2)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = words.select(F.array_join(folded, " ").alias("s"), "freq")
        # truncate lineage per round (graph.py's iterative pattern):
        # without it, round r's collect re-executes the corpus scan,
        # the word-frequency agg, and all r-1 prior folds from scratch
        # — O(rounds^2) recompute of the distinct-word table
        from ..session import lineage_checkpoint

        words = lineage_checkpoint(words)
    return words, merges


@query("bpe_pair_merge", oracle=_bpe_oracle())
def q_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding vocabulary learning, {BPE_ROUNDS} merge
    rounds: count adjacent symbol pairs over the word-frequency table,
    adopt the most frequent pair (ties broken lexicographically) as a
    merge rule, rewrite, repeat — the core loop of every BPE/WordPiece
    tokenizer build.

    Scale shape: BPE never touches the corpus after one initial
    word-count agg — each round is one explode + hash agg over the
    *distinct-word* table (millions of rows at web scale, not
    billions), an O(1)-row argmax collected to the driver (the merge
    decision IS the model, exactly like the EM loop's class params),
    and a map-only rewrite.  The merge is a TOKEN-level left-to-right
    fold over the symbol array (``F.aggregate``, JVM-side higher-order
    function, no per-row Python): merge (sym[i], sym[i+1]) when they
    equal the adopted pair, consuming both.  A substring ``replace``
    would be wrong once symbols grow multi-character — pair ``h e``
    must not glue ``th``+``e`` across the boundary in ``.. th e ..``.
    The fold needs no just-merged guard: a merged symbol p1||p2 can
    never equal p1 again (p2 is non-empty), so greedy re-examination
    of the accumulator tail is safe.
    """
    _, merges = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(merges, "round BIGINT, pair STRING, cnt BIGINT")


@query("bpe_encode_stats", oracle=_bpe_encode_oracle())
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE vocabulary to the corpus — the tokenizer
    side of the tokenizer build: per document, word/token/char counts
    and the chars-per-token compression ratio (the fertility metric a
    tokenizer is judged by).

    The final merge round's symbol table IS the vocabulary: each
    distinct word maps to its token count (symbols re-concatenated
    equal the word, so the mapping key is ``replace(s, ' ', '')``).
    Scale shape: encoding never re-walks the merge loop per document —
    one distinct-word join (AQE picks broadcast when the vocab fits)
    and one per-doc aggregate; the same shape lets a 100 TB corpus
    tokenize against a driver-learned vocab without any Python in the
    data path."""
    words, _ = _bpe_learn(spark, sf_dir)
    vocab = words.select(
        F.replace(F.col("s"), F.lit(" "), F.lit("")).alias("word"),
        F.size(F.split("s", " ")).alias("n_tok"),
    )
    docs = load_table(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    return (
        docw.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("n_tok"), 6
            ).alias("chars_per_token"),
        )
    )


@query(
    "langid_pr_curve",
    oracle=f"""
    WITH r AS (
      SELECT lang = 'en' AS is_pos,
             CAST(len(list_filter(list_filter(string_split(text, ' '),
                    x -> x <> ''), x -> x IN ({_STOP_IN}))) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), x -> x <> '')) AS score
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ),
    sweep AS (
      SELECT t.k, t.k * 0.02 AS threshold, r.is_pos, r.score >= t.k * 0.02 AS pred
      FROM r CROSS JOIN range(2, 9) AS t(k)
    ),
    c AS (
      SELECT k, MIN(threshold) AS threshold,
             CAST(SUM(CASE WHEN pred AND is_pos THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
             CAST(SUM(CASE WHEN pred AND NOT is_pos THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
             CAST(SUM(CASE WHEN NOT pred AND is_pos THEN 1 ELSE 0 END) AS DOUBLE) AS fn
      FROM sweep GROUP BY k
    )
    SELECT ROUND(threshold, 2) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           ROUND(tp / (tp + fp), 6) AS precision,
           ROUND(tp / (tp + fn), 6) AS recall,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
    FROM c
    """,
    exchanges=1,
)
def q_langid_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 sweep of the stopword-density language-ID
    score over 7 thresholds (0.04..0.16) — the classifier-evaluation
    operator a curation pipeline runs before fixing a filter cutoff.

    The per-document score is computed ONCE; the threshold sweep is a
    7-row broadcast cross join over the scored relation, so the text
    pass doesn't repeat per threshold.  Counts are exact integers;
    only the final P/R/F1 divisions are DOUBLE with identical shape in
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    stops = F.filter(words, lambda x: x.isin(*_STOPWORDS))
    r = docs.filter(F.size(words) > 0).select(
        (F.col("lang") == "en").alias("is_pos"),
        (F.size(stops).cast("double") / F.size(words)).alias("score"),
    )
    ks = spark.range(2, 9).select(F.col("id").alias("k"))
    sweep = r.crossJoin(F.broadcast(ks)).select(
        "k",
        (F.col("k") * F.lit(0.02)).alias("threshold"),
        "is_pos",
        (F.col("score") >= F.col("k") * F.lit(0.02)).alias("pred"),
    )
    tp = F.sum(F.when(F.col("pred") & F.col("is_pos"), 1).otherwise(0)).cast("double")
    fp = F.sum(F.when(F.col("pred") & ~F.col("is_pos"), 1).otherwise(0)).cast("double")
    fn = F.sum(F.when(~F.col("pred") & F.col("is_pos"), 1).otherwise(0)).cast("double")
    c = sweep.groupBy("k").agg(
        F.min("threshold").alias("threshold"),
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
    )
    return c.select(
        F.round("threshold", 2).alias("threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            F.lit(2.0) * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
    )


@query(
    "chunk_documents",
    oracle=f"""
    -- Sliding-window RAG chunking over the shared chunk rule (see
    -- chunk_spans_sql: {CHUNK_TOKENS}-token chunks, stride {CHUNK_STRIDE},
    -- suffix-covered trailing windows dropped).
    WITH {chunk_spans_sql("doc_id < 60")}
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, start + 1, start + {CHUNK_TOKENS})) AS INTEGER) AS n_tokens,
           array_to_string(list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ') AS chunk_text
    FROM chunk_s
    ORDER BY doc_id, chunk_idx
    """,
    bench=True, exchanges=1,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (16-token chunks, 50% overlap)
    — the retrieval/embedding prep step of an LLM data pipeline.

    Pure higher-order array ops on the scan stage: split → sequence of
    starts → explode → slice/array_join.  No shuffle besides the
    presentation sort; at 100 TB the chunk stream pipelines straight
    into the embedding UDF without materializing.  A trailing window
    fully covered by its predecessor is dropped (start + stride >=
    len), matching the dedup rule chunkers use to avoid indexing pure
    suffix-duplicates.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    s = chunk_spans(docs)
    chunk = F.slice("toks", F.col("start") + 1, CHUNK_TOKENS)
    return s.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


ZIPF_TOP = 200


@query(
    "token_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    top AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT {ZIPF_TOP}),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM top
    ),
    pts AS (SELECT LN(CAST(r AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y FROM ranked)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS zipf_slope,
           ROUND((SUM(y) - ((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))) * SUM(x))
                 / COUNT(*), 6) AS zipf_intercept
    FROM pts
    """,
    bench=True, exchanges=1,  # token count agg; rank over LIMIT-200
)
def q_token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(count) vs ln(rank) for the top-{ZIPF_TOP} tokens — the standard
    sanity check that a scraped corpus has natural-language token
    statistics (slope near -1) rather than template spam (flat) or
    boilerplate explosions (cliffs).

    The heavy part is one token count (groupBy) + a top-{ZIPF_TOP}
    TakeOrdered; the rank window and the regression then run over a
    {ZIPF_TOP}-row bounded input, never the vocabulary.  LN is the
    only float op and both engines' libm agree (same contract as
    lm_bigram_score), with ROUND(6) absorbing ulp noise."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(ZIPF_TOP)
    )
    w = Window.orderBy(F.desc("c"), F.asc("tok"))  # bounded: ZIPF_TOP rows
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return pts.agg(
        n.cast("bigint").alias("n_ranked"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 6).alias("zipf_intercept"),
    )


# ------------------------------------------- trained language classifier


@query(
    "langid_nb_classifier",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      FROM documents
    ),
    dw AS (SELECT doc_id, lang, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2, 3),
    wc AS (SELECT word, lang AS c, SUM(cnt) AS cnt FROM dw GROUP BY 1, 2),
    tokc AS (SELECT c, SUM(cnt) AS tok FROM wc GROUP BY 1),
    vw AS (SELECT DISTINCT word FROM wc),
    vocab AS (SELECT COUNT(*) AS v FROM vw),
    cls AS (SELECT lang AS c, COUNT(DISTINCT doc_id) AS n_docs FROM dw GROUP BY 1),
    tot AS (SELECT SUM(n_docs) AS n FROM cls),
    lp AS (
      SELECT vw.word, cls.c,
             LN(CAST(COALESCE(wc.cnt, 0) + 1 AS DOUBLE) / (tokc.tok + vocab.v)) AS lp
      FROM vw
      CROSS JOIN cls
      JOIN tokc ON tokc.c = cls.c
      CROSS JOIN vocab
      LEFT JOIN wc ON wc.word = vw.word AND wc.c = cls.c
    ),
    score AS (
      SELECT dw.doc_id, lp.c, SUM(dw.cnt * lp.lp) AS s
      FROM dw JOIN lp ON lp.word = dw.word
      GROUP BY 1, 2
    ),
    prior AS (SELECT c, LN(CAST(n_docs AS DOUBLE) / tot.n) AS lprior
              FROM cls CROSS JOIN tot),
    ranked AS (
      SELECT doc_id, c,
             CAST(ROUND((s + lprior) * 10000) AS BIGINT) AS score_e4,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY CAST(ROUND((s + lprior) * 10000) AS BIGINT) DESC, c) AS rnk
      FROM score JOIN prior USING (c)
    )
    SELECT r.doc_id, d.lang, r.c AS predicted, (r.c = d.lang) AS correct, r.score_e4
    FROM ranked r JOIN documents d USING (doc_id) WHERE rnk = 1
    """,
    # MapReduce-NB: wc/tokc/vocab aggs over the checkpointed (doc, word)
    # counts + scoring joins; tokenize runs once
    bench=True, exchanges=12, order_sensitive=True,
)
def q_langid_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language/domain classifier — the fastText-style
    "train a cheap supervised classifier on labeled docs, score the
    whole crawl" pipeline stage (DCLM/DataComp quality and CCNet
    langid filtering both take this shape), done as a multinomial
    Naive Bayes expressed entirely relationally: the MODEL is two hash
    aggregates ((word, class) counts and per-class token totals with
    add-one smoothing over the corpus vocabulary) and INFERENCE is one
    equi-join on ``word`` plus a per-(doc, class) weighted sum of
    log-probabilities and an argmax.

    Upgrade path over ``langid_heuristic`` (fixed stopword rule): this
    learns its lexicon from the labels, the same train-then-sweep
    pattern a production pipeline uses for quality classifiers.

    Cross-engine determinism: counts are exact integers; floats enter
    only as one ``ln`` per (word, class) and the per-class weighted
    sums, which both engines round to INTEGER 1e-4 units
    (``score_e4``) BEFORE the argmax comparison — integer-unit
    rounding per the repo convention (fractional-digit ROUND of
    doubles straddles half-way boundaries differently per engine),
    granularity 5e-5 far above the ~1e-12 association-order drift;
    class ties on score_e4 break lexicographically, so the prediction
    is partition- and engine-stable.

    Scale shape: ONE tokenize+explode pass feeds a (doc, word) count
    table from which the model, vocabulary, and scoring all derive —
    training is pure map-side-combinable hash aggs; the smoothed
    log-prob table is vocab x classes (classes enum-bounded, vocab
    sublinear in corpus) built with a 5-row broadcast of the class
    totals; scoring shuffles on ``word`` then on ``(doc_id, class)``
    — the classic MapReduce NB, nothing grows quadratically."""
    docs = load_table(spark, sf_dir, "documents")
    words_arr = F.filter(F.split("text", " "), lambda x: x != "")
    # the single corpus-wide tokenize pass: everything below derives
    # from this (doc, word) count table or from plain `documents`.
    # Checkpointed because BOTH the model build (wc) and the scoring
    # join consume it — without materialization the tokenize pass runs
    # twice; load_table_parallel widens the single-file testdata scan so
    # the explode runs at cluster parallelism (no-op at real scale)
    dw = lineage_checkpoint(
        load_table_parallel(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(words_arr).alias("word"))
        .groupBy("doc_id", "lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt")),
        big=True,  # (doc, word) counts are corpus-sized
    )
    wc = dw.groupBy("word", F.col("lang").alias("c")).agg(F.sum("cnt").alias("cnt"))
    tokc = wc.groupBy("c").agg(F.sum("cnt").alias("tok"))
    vw = wc.select("word").distinct()
    vocab = vw.agg(F.count(F.lit(1)).alias("v"))
    # class doc counts need no explode at all
    cls = (
        docs.filter(F.size(words_arr) > 0)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = cls.agg(F.sum("n_docs").alias("n"))
    # smoothed log-prob for EVERY (vocab word, class) pair — the
    # LEFT join supplies the add-one zero-count cells
    class_tot = cls.join(tokc, "c").crossJoin(vocab)
    lp = (
        vw.crossJoin(F.broadcast(class_tot))
        .join(wc, ["word", "c"], "left")
        .select(
            "word",
            "c",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("tok") + F.col("v"))
            ).alias("lp"),
        )
    )
    score = (
        dw.join(lp, "word")
        .groupBy("doc_id", "c")
        .agg(F.sum(F.col("cnt") * F.col("lp")).alias("s"))
    )
    prior = cls.crossJoin(tot).select(
        "c", F.log(F.col("n_docs").cast("double") / F.col("n")).alias("lprior")
    )
    score_e4 = F.round((F.col("s") + F.col("lprior")) * 10000).cast("bigint")
    rk = Window.partitionBy("doc_id").orderBy(F.desc("score_e4"), F.asc("c"))
    ranked = (
        score.join(F.broadcast(prior), "c")
        .select("doc_id", "c", score_e4.alias("score_e4"))
        .withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") == 1)
    )
    return ranked.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.col("c").alias("predicted"),
        (F.col("c") == F.col("lang")).alias("correct"),
        "score_e4",
    )


# ------------------------------------- char-ngram language classifier

LANGID_NGRAM_N = 3        # character trigrams, CCNet/fastText-style
LANGID_NGRAM_BUCKETS = 4096  # feature-hashing space (caps the model)

_LANGID_GRAM_BUCKET_DUCK = (
    f"({md5_int56_duck(f'substring(t, i, {LANGID_NGRAM_N})')}"
    f" % {LANGID_NGRAM_BUCKETS})"
)


@query(
    "langid_char_ngram",
    oracle=f"""
    WITH b0 AS (
      SELECT doc_id, lang, '_' || replace(text, ' ', '_') || '_' AS t
      FROM documents
    ),
    base AS (SELECT * FROM b0 WHERE length(t) >= {LANGID_NGRAM_N}),
    gi AS (
      SELECT doc_id, lang, t,
             unnest(range(1, length(t) - {LANGID_NGRAM_N - 2})) AS i
      FROM base
    ),
    g AS (SELECT doc_id, lang, {_LANGID_GRAM_BUCKET_DUCK} AS b FROM gi),
    dw AS (SELECT doc_id, lang, b, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
    wc AS (SELECT b, lang AS c, SUM(cnt) AS cnt FROM dw GROUP BY 1, 2),
    tokc AS (SELECT c, SUM(cnt) AS tok FROM wc GROUP BY 1),
    vb AS (SELECT DISTINCT b FROM wc),
    cls AS (SELECT lang AS c, COUNT(*) AS n_docs FROM base GROUP BY 1),
    tot AS (SELECT SUM(n_docs) AS n FROM cls),
    lp AS (
      SELECT vb.b, cls.c,
             LN(CAST(COALESCE(wc.cnt, 0) + 1 AS DOUBLE)
                / (tokc.tok + {LANGID_NGRAM_BUCKETS})) AS lp
      FROM vb
      CROSS JOIN cls
      JOIN tokc ON tokc.c = cls.c
      LEFT JOIN wc ON wc.b = vb.b AND wc.c = cls.c
    ),
    score AS (
      SELECT dw.doc_id, lp.c, SUM(dw.cnt * lp.lp) AS s
      FROM dw JOIN lp ON lp.b = dw.b
      GROUP BY 1, 2
    ),
    prior AS (SELECT c, LN(CAST(n_docs AS DOUBLE) / tot.n) AS lprior
              FROM cls CROSS JOIN tot),
    ranked AS (
      SELECT doc_id, c,
             CAST(ROUND((s + lprior) * 10000) AS BIGINT) AS score_e4,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY CAST(ROUND((s + lprior) * 10000) AS BIGINT) DESC, c) AS rnk
      FROM score JOIN prior USING (c)
    )
    SELECT r.doc_id, d.lang, r.c AS predicted, (r.c = d.lang) AS correct, r.score_e4
    FROM ranked r JOIN documents d USING (doc_id) WHERE rnk = 1
    """,
    # model-build aggs over the checkpointed (doc, bucket) counts +
    # doc-score agg + argmax window; inference joins the broadcast model
    # (no vocab-keyed postings shuffle), and the corpus-sized explode+md5
    # pass runs once at lineage-checkpoint time
    bench=True, exchanges=10, order_sensitive=True,
)
def q_langid_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language identification on HASHED CHARACTER
    TRIGRAMS — the sub-word twin of ``langid_nb_classifier``.  Word
    features fail exactly where production langid matters most: short
    documents and unseen inflections (a novel word contributes nothing
    but smoothing noise).  Char n-grams over a boundary-marked stream
    ('_' stands in for word boundaries, so prefixes/suffixes hash
    distinctly from word-internal grams) capture the morphology that
    identifies a language from a single novel token; the planted
    short-doc test pins a case the word model gets wrong and this one
    gets right.

    The vocab-scaling path the word model doesn't have: every trigram
    hashes into one of {LANGID_NGRAM_BUCKETS} buckets through the
    engines' shared 56-bit md5 (fastText's feature-hashing trick), so
    the MODEL is structurally capped at buckets x classes rows AT ANY
    CORPUS SIZE and ships to every executor as a broadcast — scoring
    never shuffles on the feature key, unlike the word model's
    vocab-sized postings join.  Add-one smoothing runs over the fixed
    hash space, making V a compile-time constant rather than a
    corpus-dependent 1-row aggregate.

    Same cross-engine determinism contract as the word model: integer
    counts, one LN per (bucket, class), per-(doc, class) sums rounded
    to INTEGER 1e-4 units before the argmax, ties lexicographic.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(F.lit("_"), F.regexp_replace("text", " ", "_"), F.lit("_"))
    base = docs.select("doc_id", "lang", t.alias("t")).filter(
        F.length("t") >= LANGID_NGRAM_N
    )
    # small-file guard for the HEAVY pass only: the per-char explode +
    # md5 must run at cluster parallelism, not at the one-partition
    # width of a single-file testdata scan (no-op at real corpus
    # scale); cls and the output join stay on the plain scan, and the
    # guard's exchange runs once at dw's lineage checkpoint
    gbase = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", t.alias("t")
    ).filter(F.length("t") >= LANGID_NGRAM_N)
    grams = gbase.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(t) - {LANGID_NGRAM_N - 1}),"
                f" i -> substring(t, i, {LANGID_NGRAM_N}))"
            )
        ).alias("gram"),
    )
    bucket = F.expr(f"{md5_int56_spark('gram')} % {LANGID_NGRAM_BUCKETS}")
    # materialize the (doc, bucket) count table once: it feeds BOTH the
    # model build and the scoring join, and without the checkpoint the
    # corpus-sized explode + md5 pass runs twice (the BM25-postings
    # lesson; measured 2x wall at the 10x audit scale)
    dw = lineage_checkpoint(
        grams.select("doc_id", "lang", bucket.alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt")),
        big=True,  # corpus-sized: DISK_ONLY so the pinned blocks never
        # starve the scoring aggregation (100x-audit OOM otherwise)
    )
    wc = dw.groupBy("b", F.col("lang").alias("c")).agg(F.sum("cnt").alias("cnt"))
    tokc = wc.groupBy("c").agg(F.sum("cnt").alias("tok"))
    vb = wc.select("b").distinct()  # occupied buckets: <= 4096 by construction
    cls = base.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cls.agg(F.sum("n_docs").alias("n"))
    lp = (
        vb.crossJoin(cls.join(tokc, "c"))
        .join(wc, ["b", "c"], "left")
        .select(
            "b",
            "c",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("tok") + F.lit(LANGID_NGRAM_BUCKETS))
            ).alias("lp"),
        )
    )
    # the hashed model is <= buckets x classes rows BY CONSTRUCTION —
    # broadcast it so inference is a map-side join on the feature key
    score = (
        dw.join(
            bounded_broadcast(
                lp,
                f"feature-hashed NB model: <= {LANGID_NGRAM_BUCKETS} buckets "
                "x |langs| rows at any corpus size (hash-space contract)",
            ),
            "b",
        )
        .groupBy("doc_id", "c")
        .agg(F.sum(F.col("cnt") * F.col("lp")).alias("s"))
    )
    prior = cls.crossJoin(tot).select(
        "c", F.log(F.col("n_docs").cast("double") / F.col("n")).alias("lprior")
    )
    score_e4 = F.round((F.col("s") + F.col("lprior")) * 10000).cast("bigint")
    rk = Window.partitionBy("doc_id").orderBy(F.desc("score_e4"), F.asc("c"))
    ranked = (
        score.join(F.broadcast(prior), "c")
        .select("doc_id", "c", score_e4.alias("score_e4"))
        .withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") == 1)
    )
    return ranked.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.col("c").alias("predicted"),
        (F.col("c") == F.col("lang")).alias("correct"),
        "score_e4",
    )


# ------------------------------------------------ HTML -> text extraction


def _html_extract_duck() -> str:
    """DuckDB twin of the Spark extraction chain below — kept adjacent
    so the two regex/entity pipelines can be reviewed side by side."""
    build = """
      '<html><head><title>' || source || ' #' || CAST(doc_id AS VARCHAR)
      || '</title><style>.m{color:#333}</style></head><body>'
      || '<script type="text/javascript">track("' || source || '",'
      || CAST(doc_id AS VARCHAR) || ');</script>'
      || '<nav>home about contact</nav>'
      || '<h1>' || lang || ' &lt;doc ' || CAST(doc_id AS VARCHAR) || '&gt;</h1>'
      || '<p>' || replace(text, ' table ', ' &quot;table&quot; ') || '</p>'
      || '<footer>site map</footer></body></html>'
    """
    return f"""
    WITH page AS (SELECT doc_id, {build} AS html FROM documents),
    stripped AS (
      SELECT doc_id, html,
        replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html, '(?s)<head>.*?</head>', ' ', 'g'),
                '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
              '</(nav|h1|p|footer)>', chr(10), 'g'),
            '<[^>]*>', ' ', 'g'),
          '&quot;', '"'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS decoded
      FROM page
    ),
    main AS (
      SELECT doc_id, html,
        COALESCE(list_aggregate(
          list_filter(
            list_transform(string_split(decoded, chr(10)),
                           s -> trim(regexp_replace(s, ' +', ' ', 'g'))),
            s -> len(string_split(s, ' ')) >= 4),
          'string_agg', ' '), '') AS main_text
      FROM stripped
    )
    SELECT doc_id, main_text,
           CAST(CASE WHEN main_text = '' THEN 0
                ELSE len(string_split(main_text, ' ')) END AS BIGINT) AS n_words,
           ROUND((length(html) - length(main_text))
                 / CAST(length(html) AS DOUBLE), 6) AS markup_ratio
    FROM main
    """


# exchanges: pure codegen string projection
@query("html_text_extract", oracle=_html_extract_duck(), bench=True, exchanges=0)
def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> main-text extraction — the first stage of every web-
    scrape LLM corpus pipeline (trafilatura/jusText class), expressed
    entirely as JVM-side string expressions: no UDF, no Python in the
    hot path, so the whole chain stays inside whole-stage codegen and
    scales as a pure projection (zero shuffles).

    Both engines first wrap each document in an identical
    deterministic page (head/title/style, a script tag, nav chrome,
    an entity-bearing h1, the body paragraph with injected
    ``&quot;`` entities, footer chrome) and then run the SAME
    extraction semantics:

      1. drop ``<head>...</head>`` (title/style are not content),
      2. drop ``<script>`` blocks,
      3. turn block-closers into line breaks,
      4. strip remaining tags,
      5. decode entities AFTER tag-stripping (decoded ``<`` must not
         create fake tags),
      6. boilerplate rule: keep only segments with >= 4 words (nav,
         headings, footer chrome all fall below it; the ``documents``
         corpus is >= 10 words per doc, so real content never does),
      7. collapse/trim whitespace and report text + word count +
         markup ratio (the classic text-to-markup quality signal).
    """
    docs = load_table(spark, sf_dir, "documents")
    html = F.expr(
        """concat(
        '<html><head><title>', source, ' #', CAST(doc_id AS STRING),
        '</title><style>.m{color:#333}</style></head><body>',
        '<script type="text/javascript">track("', source, '",',
        CAST(doc_id AS STRING), ');</script>',
        '<nav>home about contact</nav>',
        '<h1>', lang, ' &lt;doc ', CAST(doc_id AS STRING), '&gt;</h1>',
        '<p>', replace(text, ' table ', ' &quot;table&quot; '), '</p>',
        '<footer>site map</footer></body></html>')"""
    )
    page = docs.select("doc_id", html.alias("html"))
    decoded = F.expr(
        """replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html, '(?s)<head>.*?</head>', ' '),
                '(?s)<script[^>]*>.*?</script>', ' '),
              '</(nav|h1|p|footer)>', chr(10)),
            '<[^>]*>', ' '),
          '&quot;', '"'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&')"""
    )
    main_text = F.expr(
        """array_join(
          filter(
            transform(split(decoded, chr(10)),
                      s -> trim(regexp_replace(s, ' +', ' '))),
            s -> size(split(s, ' ')) >= 4),
        ' ')"""
    )
    return (
        page.withColumn("decoded", decoded)
        .withColumn("main_text", main_text)
        .select(
            "doc_id",
            "main_text",
            # split('') yields [''] (size 1, never 0): a boilerplate-only
            # page with an empty extraction must report 0 words
            F.when(F.col("main_text") == "", F.lit(0))
            .otherwise(F.size(F.split("main_text", " ")))
            .cast("bigint")
            .alias("n_words"),
            F.round(
                (F.length("html") - F.length("main_text"))
                / F.length("html").cast("double"),
                6,
            ).alias("markup_ratio"),
        )
    )


# ----------------------------------------------------- BM25 retrieval

BM25_K1_E2 = 120   # k1 = 1.2 as integer hundredths
BM25_B_E2 = 75     # b = 0.75
BM25_TOPN = 15
# The query RELATION: (query_id, term) rows — a retrieval operator's
# contract is a table of queries, not compile-time literals.  Three
# fixture queries with distinct term sets; query 3 carries a term
# absent from the corpus (df = 0) to pin the missing-term path.
BM25_QUERY_REL = (
    (1, "table"), (1, "hash"), (1, "window"),
    (2, "merge"), (2, "sort"), (2, "join"), (2, "scan"),
    (3, "vector"), (3, "stream"), (3, "quantize"),
)

_BM25_QUERY_VALUES = ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERY_REL)


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH queries(query_id, term) AS (VALUES {_BM25_QUERY_VALUES}),
    d AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d),
    vocab AS (SELECT DISTINCT term FROM queries),
    tf AS (
      SELECT d.doc_id, d.dl, v.term,
             len(list_filter(d.ws, w -> w = v.term)) AS tf
      FROM d, vocab v
    ),
    dft AS (SELECT term, COUNT(*) AS df FROM tf WHERE tf > 0 GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             CAST(ROUND(
               LN((s.n - dft.df + 0.5) / (dft.df + 0.5) + 1)
               * (tf.tf * (({BM25_K1_E2} + 100) / 100.0))
               / (tf.tf + ({BM25_K1_E2} / 100.0)
                  * ((100 - {BM25_B_E2}) / 100.0
                     + ({BM25_B_E2} / 100.0) * tf.dl / (s.sumdl / CAST(s.n AS DOUBLE))))
               * 10000) AS BIGINT) AS c_e4
      FROM tf JOIN dft USING (term), stats s
      WHERE tf.tf > 0
    ),
    scored AS (
      SELECT q.query_id, c.doc_id,
             CAST(SUM(c.c_e4) AS BIGINT) AS score_e4,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM queries q JOIN contrib c ON c.term = q.term
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank,
           score_e4, n_terms
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_e4 DESC, doc_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {BM25_TOPN}
    """,
    # dft term agg over the checkpointed postings + stats SinglePartition
    # agg + (query_id, doc_id) score agg + per-query WindowGroupLimit
    # exchange + the scan-width guard (fires only when the docs scan has
    # fewer splits than cores); the vocab-pruned postings build runs once
    # at lineage-checkpoint time
    bench=True, exchanges=5, order_sensitive=True,
)
def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Sparck Jones) over a QUERY
    RELATION — the lexical side of the hybrid-retrieval stack whose
    vector side is ``ann_srp_bucketed`` and whose combiner is
    ``ann_rrf_fusion``.  Queries arrive as (query_id, term) rows (the
    fixture carries three queries with distinct term sets, one term
    with df = 0), so adding a query is adding rows, not recompiling a
    plan.  Scoring is Okapi BM25 (k1=1.2, b=0.75) with corpus
    statistics (df per term, average doc length) computed in-query.

    Cross-engine determinism uses the ``langid_nb_classifier``
    convention: each per-term contribution is rounded to integer 1e-4
    units BEFORE summing, so the final score is an exact BIGINT sum
    and the per-query ranking (score desc, doc_id) cannot drift on
    float association order.

    Scale shape — the DF-pruned posting join: the corpus tokenizes
    ONCE and the token stream is pruned by a broadcast of the query
    vocabulary BEFORE any shuffle, so the postings exchange carries
    only (doc, vocab-term) hits, never the full token explode.  The
    pruned postings frame is lineage-checkpointed — it is consumed by
    BOTH the df aggregate and the contribution join, and without the
    materialization Catalyst's column pruning diverges the two
    subtrees past ReuseExchange, re-running the tokenize+prune pass
    (the round-10 plan paid that twice).  Per-term contributions are
    computed once per posting and shared by every query containing
    the term (the term -> query join is a broadcast); the final
    top-{BM25_TOPN} is a per-query WindowGroupLimit on score-sized
    rows.

    Round 13 (the 100x phase attribution): the audit fixture's
    documents file is one giant row group, which serialized the
    tokenize pass into a single task (40s of a 64s cold wall at 500k
    docs; the r12 "365s" was mostly concurrent-audit box load on top
    of that).  The scan now goes through the same small-file guard
    the dedup family uses (repartition up to the cluster width ONLY
    when the scan has fewer splits than cores — a no-op on a real
    multi-split corpus).
    """
    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("ws"),
        F.size(F.split("text", " ")).alias("dl"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sumdl")
    )
    qrel = docs.sparkSession.createDataFrame(
        list(BM25_QUERY_REL), "query_id int, term string"
    )
    # the query relation is a literal fixture; its term dictionary is
    # deduped driver-side (a LocalRelation, zero exchanges) rather
    # than with a .distinct() that would shuffle per consumer
    vocab = docs.sparkSession.createDataFrame(
        [(t,) for t in sorted({t for _, t in BM25_QUERY_REL})],
        "term string",
    )
    # postings for the query vocabulary only: explode is pruned by the
    # broadcast dictionary before the (doc_id, term) agg shuffles;
    # materialized once (vocab-hit-sized) and shared by df + contrib
    postings = lineage_checkpoint(
        docs.select("doc_id", "dl", F.explode("ws").alias("term"))
        .join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1 = BM25_K1_E2 / 100.0
    b = BM25_B_E2 / 100.0
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    avgdl = F.col("sumdl") / F.col("n").cast("double")
    tfnorm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / avgdl)
    )
    contrib = (
        postings.join(
            bounded_broadcast(
                dft,
                "df aggregate keyed by query-vocabulary terms: <= |distinct "
                "query terms| rows by construction (postings are pruned by "
                "the broadcast vocab before this groupBy), independent of "
                "corpus size",
            ),
            "term",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(idf * tfnorm * 10000).cast("bigint").alias("c_e4"),
        )
    )
    scored = (
        contrib.join(F.broadcast(qrel), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c_e4").cast("bigint").alias("score_e4"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_e4"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOPN)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            "doc_id",
            "rank",
            "score_e4",
            "n_terms",
        )
    )
