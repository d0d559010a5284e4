"""Distributed byte-pair-encoding (BPE) tokenizer training and
application (Sennrich et al., "Neural Machine Translation of Rare
Words with Subword Units", ACL 2016 — the algorithm behind the
GPT-2/RoBERTa tokenizer family).

Why this shape scales. Classic BPE trains on the WORD-FREQUENCY
table, not the raw corpus: the only corpus-scale pass is the word
count (one shuffle with map-side combine, output is vocabulary-sized).
Every merge round then runs over the vocabulary table — millions of
rows at web scale, not billions — as pure JVM expressions:

- a word's current segmentation is a SENTINEL STRING
  ``\\x01sym\\x02\\x01sym\\x02…`` (one ``\\x01…\\x02`` wrapper per
  symbol), so applying merge ``(a, b) -> ab`` is a LITERAL
  ``replace(s, '\\x01a\\x02\\x01b\\x02', '\\x01ab\\x02')`` — no regex,
  no escaping, and a match can never cross or split a symbol because
  the pattern only matches whole adjacent wrappers. Literal replace
  is left-to-right non-overlapping in both Spark and DuckDB, which is
  exactly BPE's greedy left-to-right merge semantics
  (``[a,a,a] -> [aa,a]``, ``[a,b,a,b] -> [ab,ab]``).
- per-round pair counts are a ``(sym_i, sym_{i+1})``-keyed aggregation
  over the vocabulary, weighted by word count (map-side combine);
- the argmax pair is a ``TakeOrdered(1)`` — one driver row per round
  (the same model-parameter-sized collect as the k-means centroid
  loop in clustering.py), with the deterministic tie-break
  ``(freq DESC, lhs ASC, rhs ASC)``.

Applying the trained tokenizer is also vocabulary-first: encode each
DISTINCT word once (the training loop's final state already holds
it), then broadcast-join the corpus's exploded words against the
vocabulary-sized ``(word, n_tokens)`` table — the corpus is never
dragged through the merge chain.

The whole train loop is oracle-checkable: :func:`bpe_oracle_sql`
unrolls ``num_merges`` rounds into chained DuckDB CTEs (the unrolled
Lloyd's-iteration pattern used for the k-means oracle), with each
round's argmax as a scalar subquery and ``chr(3)`` as the never-
matching no-op pattern once the pair supply is exhausted.

No reference-parity citation: the reference app has no tokenizer —
this is part of the training-data-pipeline extension surface
(BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bht_etl_app_spark.operators.text import tokens_expr
from bht_etl_app_spark.session import ensure_min_parallelism, local_frame

__all__ = [
    "word_counts",
    "bpe_train",
    "bpe_token_counts",
    "bpe_encode_docs",
    "bpe_oracle_sql",
]

# symbol wrapper sentinels: every symbol in a word's segmentation is
# stored as \x01<sym>\x02. \x03 is the guaranteed-no-match pattern.
_S1 = "\x01"
_S2 = "\x02"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table ``(word, cnt)`` over lowercased
    whitespace tokens — the one corpus-scale pass of BPE training
    (vocabulary-sized output, map-side partial counts)."""
    return (
        ensure_min_parallelism(df)
        .select(F.explode(tokens_expr(text_col)).alias("word"))
        # drop words carrying the sentinel control bytes (stray
        # control chars are routine in crawl data): a \x01/\x02
        # inside a symbol would corrupt segmentation boundaries, and
        # \x03 is the oracle's no-op pattern
        .where(
            ~F.col("word").contains(_S1)
            & ~F.col("word").contains(_S2)
            & ~F.col("word").contains("\x03")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sentinel_expr(word: Column) -> Column:
    """``\\x01c\\x02`` per character — the initial (character-level)
    segmentation of a word."""
    return F.concat_ws(
        "", F.transform(F.split(word, ""), lambda c: F.concat(F.lit(_S1), c, F.lit(_S2)))
    )


def _pairs_expr(s: Column) -> Column:
    """Adjacent symbol pairs of a sentinel string as
    ``array<struct<a,b>>`` (empty for single-symbol words)."""
    syms = F.split(F.substring(s, 2, F.length(s) - 2), _S2 + _S1)
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """Train ``num_merges`` BPE merges on the corpus. Returns
    ``(merges, vocab)``:

    - ``merges``: ``(rank, lhs, rhs, freq)`` — merge table in
      training order (may be shorter than ``num_merges`` if the pair
      supply runs dry);
    - ``vocab``: ``(word, cnt, n_tokens, pieces)`` — every distinct
      corpus word with its encoded token count and space-joined
      segmentation under the trained merges (the table
      :func:`bpe_token_counts` / :func:`bpe_encode_docs`
      broadcast-join against).

    Each round is one vocabulary-sized Spark job (pair count +
    argmax); the per-round driver transfer is ONE row. The
    segmentation column is an expression CHAIN of literal replaces
    over the persisted word-count table — ``num_merges`` nested
    string replaces per word at most, evaluated vocabulary-side only.
    """
    from pyspark import StorageLevel

    spark = df.sparkSession
    words = word_counts(df, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    cur = words.withColumn("s", _sentinel_expr(F.col("word")))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        best = (
            cur.select("cnt", F.explode(_pairs_expr(F.col("s"))).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((rank, a, b, int(c)))
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(_S1 + a + _S2 + _S1 + b + _S2),
                F.lit(_S1 + a + b + _S2),
            ),
        )
    merges_df = local_frame(
        spark, merges, "rank int, lhs string, rhs string, freq long"
    )
    # token count = number of symbol-open sentinels left in s;
    # pieces = the human-readable segmentation ("\x01a\x02\x01b\x02"
    # -> "a b"), consumed by bpe_encode_docs
    vocab = cur.select(
        "word",
        "cnt",
        (F.length("s") - F.length(F.replace(F.col("s"), F.lit(_S1), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
        F.regexp_replace(
            F.regexp_replace(F.col("s"), _S2 + _S1, " "),
            "[" + _S1 + _S2 + "]",
            "",
        ).alias("pieces"),
    )
    from bht_etl_app_spark.functions.lifecycle import track_persisted

    # the persisted word counts are read by VOCAB's plan (merges_df is
    # a driver-local literal table) — tie the cache lifetime to vocab,
    # or `_, vocab = bpe_train(...)` would free it before first use
    return merges_df, track_persisted(vocab, words)


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 12,
) -> DataFrame:
    """Per-document BPE token counts under a tokenizer trained on the
    same corpus: ``(doc_id, n_words, n_bpe_tokens)``.

    The corpus explode joins the VOCABULARY-sized ``(word, n_tokens)``
    table — broadcast, so the corpus-side scan never shuffles on the
    word. Documents with no tokens report zero counts (left join +
    coalesce keeps empty docs in the output)."""
    _, vocab = bpe_train(df, text_col, num_merges)
    doc_words = ensure_min_parallelism(df).select(
        F.col(id_col), F.explode_outer(tokens_expr(text_col)).alias("word")
    )
    return (
        doc_words.join(F.broadcast(vocab.select("word", "n_tokens")), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count("word").alias("n_words"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_oracle_sql(num_merges: int = 12, table: str = "documents") -> dict[str, str]:
    """DuckDB oracles replaying the training loop as ``num_merges``
    unrolled CTE rounds. Returns SQL for keys ``"merges"`` (the merge
    table) and ``"token_counts"`` (per-doc counts). Each round's
    argmax is a scalar subquery; ``chr(3)`` (never present — symbols
    contain only word characters and prior merges) makes the replace
    a no-op once no pair remains, mirroring the Spark loop's break."""
    head = f"""
WITH wc AS MATERIALIZED (
  SELECT word, count(*) AS cnt FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> '')) AS word
    FROM {table}
  )
  WHERE word NOT LIKE '%' || chr(1) || '%'
    AND word NOT LIKE '%' || chr(2) || '%'
    AND word NOT LIKE '%' || chr(3) || '%'
  GROUP BY 1
),
r0 AS MATERIALIZED (
  SELECT word, cnt,
         list_aggregate(list_transform(string_split(word, ''),
                                       c -> chr(1) || c || chr(2)),
                        'string_agg', '') AS s
  FROM wc
)"""
    rounds = []
    for i in range(num_merges):
        rounds.append(f"""
p{i} AS MATERIALIZED (
  SELECT u.a AS a, u.b AS b, sum(cnt) AS c FROM (
    SELECT cnt, unnest(
      list_transform(range(1, len(syms)),
                     i -> {{'a': syms[i], 'b': syms[i+1]}})) AS u
    FROM (
      SELECT cnt,
             string_split(s[2:length(s)-1], chr(2) || chr(1)) AS syms
      FROM r{i}
      WHERE length(s) > 0
    )
  )
  GROUP BY 1, 2
),
b{i} AS MATERIALIZED (SELECT a, b, c FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
r{i + 1} AS MATERIALIZED (
  SELECT word, cnt,
         replace(s,
                 coalesce((SELECT chr(1) || a || chr(2) || chr(1) || b || chr(2) FROM b{i}), chr(3)),
                 coalesce((SELECT chr(1) || a || b || chr(2) FROM b{i}), chr(3))) AS s
  FROM r{i}
)""")
        # NOTE: syms[i] / syms[i+1] are 1-based in DuckDB and
        # range(1, n) excludes n — exactly the n-1 adjacent pairs.
    body = ",".join(rounds)
    # c = sum(BIGINT) is HUGEINT in DuckDB; the driver canonicalizes
    # oracle output through pandas, where HUGEINT lands as float64
    # while Spark's freq is int64 — cast to BIGINT or the value hash
    # diverges even though every value is equal (r5 driver red)
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS rank, a AS lhs, b AS rhs, CAST(c AS BIGINT) AS freq FROM b{i}"
        for i in range(num_merges)
    )
    merges_sql = f"{head},{body}\nSELECT rank, lhs, rhs, freq FROM ({merge_rows}) ORDER BY rank"
    counts_sql = f"""{head},{body},
vocab AS MATERIALIZED (
  SELECT word,
         length(s) - length(replace(s, chr(1), '')) AS n_tokens
  FROM r{num_merges}
),
dw AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) = 0 THEN [NULL] ELSE toks END) AS word
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
    FROM {table}
  )
)
SELECT doc_id,
       count(word) AS n_words,
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_bpe_tokens
FROM dw LEFT JOIN vocab USING (word)
GROUP BY doc_id"""
    encode_sql = f"""{head},{body},
vocab AS MATERIALIZED (
  SELECT word,
         replace(replace(replace(s, chr(2) || chr(1), ' '), chr(1), ''), chr(2), '') AS pieces
  FROM r{num_merges}
),
dw AS (
  -- index explode (this DuckDB build lacks WITH ORDINALITY):
  -- 1-based positions over the [NULL]-padded empty-doc case
  SELECT doc_id, i AS ord, toks2[i] AS word FROM (
    SELECT doc_id,
           CASE WHEN len(toks) = 0 THEN [NULL] ELSE toks END AS toks2
    FROM (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM {table}
    )
  ), unnest(range(1, len(toks2) + 1)) AS t(i)
)
SELECT doc_id,
       coalesce(string_agg(pieces, ' ' ORDER BY ord), '') AS bpe_tokens
FROM dw LEFT JOIN vocab USING (word)
GROUP BY doc_id"""
    return {
        "merges": merges_sql,
        "token_counts": counts_sql,
        "encode": encode_sql,
    }


def bpe_encode_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 12,
) -> DataFrame:
    """Encode every document into its BPE subword sequence under a
    tokenizer trained on the same corpus: ``(doc_id, bpe_tokens)``
    where ``bpe_tokens`` is the space-joined pieces in document order
    (e.g. ``"lo w er"`` for "lower" before the lo+w merge lands).

    Same vocabulary-first shape as :func:`bpe_token_counts`: each
    DISTINCT word is segmented once (the training loop's final
    sentinel state, converted to a piece string by sentinel
    replacement), broadcast, and joined to the corpus's
    position-indexed word explode; per-doc reassembly folds in
    position order. Words excluded from training (sentinel control
    bytes — see :func:`word_counts`) are omitted from the sequence,
    and empty docs yield an empty string.
    """
    _, vocab = bpe_train(df, text_col, num_merges)
    word_pieces = vocab.select("word", "pieces")
    doc_words = ensure_min_parallelism(df).select(
        F.col(id_col), F.posexplode_outer(tokens_expr(text_col))
    ).select(id_col, F.col("pos"), F.col("col").alias("word"))
    ordered = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
            lambda x: x["pieces"],
        ),
    )
    return (
        doc_words.join(F.broadcast(word_pieces), "word", "left")
        .groupBy(id_col)
        .agg(ordered.alias("bpe_tokens"))
    )
