"""Corpus-curation operators for training-data pipelines: benchmark
decontamination (n-gram overlap against an evaluation set) and
Gopher/C4-style repetition statistics.

Not a reference feature (eurostat/pygridmap is geospatial-only); these are
the web-scale curation stages the engine's north star names — built on the
same normalized-text/shingle primitives as the dedup family
(functions/text.py), fully Catalyst-expressible, DuckDB-oracle-checkable.

Scale shapes (100 TB corpus, 1000 executors):

- decontamination: the benchmark side is megabytes (eval suites), so its
  distinct shingle set is BROADCAST; the corpus-side explode never
  shuffles shingles — one partial-aggregated exchange of per-doc count
  rows is the only wide edge.
- repetition stats: explode -> two-level hash aggregation (partial
  map-side combine on (doc, item) then (doc)); the joins between the
  per-doc frames are all keyed on the id column whose partitioning the
  aggregations just established, so AQE plans them without extra
  exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pygridmap_spark.functions import text as TX


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark contamination: the fraction of the document's
    DISTINCT word n-grams that occur anywhere in the benchmark set
    (Gopher-style 13-gram decontamination; lower n = stricter).

    Returns ``(id_col, n_shingles, n_matched, contamination)`` — one row
    per corpus document; documents with fewer than ``n`` tokens have
    ``n_shingles = 0`` and NULL contamination (nothing to test).

    Plan: benchmark shingles -> distinct -> BROADCAST (eval suites are
    megabytes); corpus explode -> broadcast LEFT join marker -> single
    partial-aggregated groupBy(id).
    """
    bench = (
        benchmark.select(
            F.explode(TX.word_shingles(F.col(bench_text_col), n)).alias("shingle")
        )
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    doc_sh = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(TX.word_shingles(F.col(text_col), n))).alias(
            "shingle"
        ),
    )
    joined = doc_sh.join(F.broadcast(bench), "shingle", "left")
    counts = (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit__"), F.lit(0)).alias("n_matched"),
        )
    )
    # docs too short to shingle never reach the explode; restore them
    base = corpus.select(id_col)
    return (
        base.join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
            F.when(
                F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
                F.col("n_matched").cast("double") / F.col("n_shingles"),
            ).alias("contamination"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    max_contamination: float = 0.05,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Drop corpus documents whose benchmark n-gram contamination exceeds
    ``max_contamination``. Unshingle-able (too-short) documents are KEPT
    (contamination unmeasurable, not positive)."""
    stats = contamination_stats(
        corpus, benchmark, n=n, id_col=id_col,
        text_col=text_col, bench_text_col=bench_text_col,
    )
    keep = stats.filter(
        F.col("contamination").isNull()
        | (F.col("contamination") <= max_contamination)
    ).select(id_col)
    return corpus.join(keep, id_col, "inner")


def _lines(text_col):
    """Non-empty trimmed lines of a document as array<string>."""
    return F.filter(
        F.transform(F.split(text_col, "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: bool = False,
) -> DataFrame:
    """Gopher-style within-document repetition features:

    - ``n_lines`` — non-empty trimmed lines;
    - ``dup_line_frac`` — fraction of lines that are repeats of an earlier
      line (1 - distinct/total);
    - ``dup_line_char_frac`` — fraction of line characters inside lines
      occurring more than once;
    - ``top_bigram_frac`` — tokens covered by the most frequent word
      bigram over total tokens (count * 2 / n_tokens).

    NULL (not 0, not NaN) when the denominator is empty.

    Every feature is PER-DOCUMENT — no cross-row state — so this is one
    narrow zero-shuffle Arrow pass (``mapInPandas``), not an explode +
    shuffle: the exploded formulation (kept as
    :func:`_repetition_stats_exploded`, the pinned Catalyst twin) ships
    every text line and bigram of the corpus through two exchanges, which
    at lake scale is a shuffle of the entire corpus' text. The kernel is
    vectorized (pandas str split/explode + ``pd.factorize`` + bincount —
    no per-token Python loop, per the minhash kernel lesson) and matches
    the twin bit-for-bit, including the Spark semantics corner cases:
    ``trim`` strips ASCII spaces only, tokenization is on the
    ``[a-z0-9]``-normalized text, and empty denominators yield SQL NULL
    (nullable Float64 arrays, never NaN).

    ``passthrough=True`` emits EVERY input column plus the four feature
    columns (instead of just ``id_col`` + features) — the zero-shuffle
    building block :func:`repetition_filter` uses to avoid re-joining the
    keep-set back to the corpus by id."""
    import numpy as np
    import pandas as pd

    from pygridmap_spark import util as _util

    feature_ddl = (
        "n_lines long, dup_line_frac double, "
        "dup_line_char_frac double, top_bigram_frac double"
    )
    if passthrough:
        clash = {"n_lines", "dup_line_frac", "dup_line_char_frac", "top_bigram_frac"} & set(
            df.columns
        )
        if clash:
            raise ValueError(
                "repetition_stats(passthrough=True): input already has feature "
                f"column(s) {sorted(clash)} — rename them first (passthrough "
                "appends the four feature columns to every input column)"
            )
        src = df
        schema = _util.schema_with(df, *feature_ddl.split(", "))
    else:
        id_type = dict(df.dtypes)[id_col]
        src = df.select(id_col, text_col)
        schema = f"{id_col} {id_type}, {feature_ddl}"

    def _kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            pdf = pdf.reset_index(drop=True)  # explode() indices must be 0..n-1
            texts = pdf[text_col].fillna("")

            # ---- line family: split -> strip(' ') -> drop empties
            ex = texts.str.split("\n").explode()
            stripped = ex.str.strip(" ")
            keep = (stripped != "").to_numpy()
            doc_pos = ex.index.to_numpy()[keep]
            line_vals = stripped.to_numpy()[keep]
            n_lines = np.bincount(doc_pos, minlength=n).astype("int64")
            codes, uniq = pd.factorize(line_vals)
            if len(codes):
                lens = pd.Series(line_vals).str.len().to_numpy("int64")
                key = doc_pos.astype("int64") * len(uniq) + codes
                uk, cnt = np.unique(key, return_counts=True)
                gd = uk // len(uniq)
                gchars = pd.Series(uniq[uk % len(uniq)]).str.len().to_numpy("int64")
                distinct = np.bincount(gd, minlength=n)
                tot_chars = np.bincount(doc_pos, weights=lens, minlength=n)
                dupmask = cnt > 1
                dup_chars = np.bincount(
                    gd[dupmask], weights=(cnt * gchars)[dupmask], minlength=n
                )
            else:
                distinct = np.zeros(n, dtype="int64")
                tot_chars = np.zeros(n)
                dup_chars = np.zeros(n)

            has_lines = n_lines > 0
            dup_line_frac = np.where(
                has_lines, 1.0 - distinct / np.maximum(n_lines, 1), np.nan
            )
            dup_line_char_frac = np.where(
                has_lines, dup_chars / np.maximum(tot_chars, 1.0), np.nan
            )

            # ---- bigram family over the dedup-normalized token stream
            norm = (
                texts.str.lower()
                .str.replace("[^a-z0-9]+", " ", regex=True)
                .str.replace(" +", " ", regex=True)
                .str.strip(" ")
            )
            tex = norm.str.split(" ").explode()
            tpos = tex.index.to_numpy()
            tvals = tex.to_numpy()
            same = tpos[1:] == tpos[:-1]
            big_d = tpos[:-1][same]
            n_bigrams = np.bincount(big_d, minlength=n).astype("int64")
            top = np.zeros(n, dtype="int64")
            if len(big_d):
                bigrams = pd.Series(tvals[:-1][same]) + " " + pd.Series(tvals[1:][same])
                codes2, uniq2 = pd.factorize(bigrams.to_numpy())
                key2 = big_d.astype("int64") * len(uniq2) + codes2
                uk2, cnt2 = np.unique(key2, return_counts=True)
                np.maximum.at(top, uk2 // len(uniq2), cnt2)
            has_bi = n_bigrams > 0
            top_bigram_frac = np.where(
                has_bi,
                np.minimum(top * 2.0 / (n_bigrams + 1), 1.0),
                np.nan,
            )

            def _nullable(vals, mask):
                arr = pd.array(vals, dtype="Float64")
                arr[~mask] = pd.NA
                return arr

            feats = pd.DataFrame(
                {
                    "n_lines": n_lines,
                    "dup_line_frac": _nullable(dup_line_frac, has_lines),
                    "dup_line_char_frac": _nullable(dup_line_char_frac, has_lines),
                    "top_bigram_frac": _nullable(top_bigram_frac, has_bi),
                }
            )
            if passthrough:
                yield pd.concat([pdf, feats], axis=1)
            else:
                yield pd.concat([pdf[[id_col]], feats], axis=1)

    return src.mapInPandas(_kernel, schema)


def _repetition_stats_exploded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Catalyst-native formulation of :func:`repetition_stats` — the
    pinned equality twin for the Arrow kernel (tests assert bit-identical
    output). Shape: one explode + two hash aggregations per feature
    family; all id-keyed joins reuse the aggregation partitioning. Kept
    because it documents the exact SQL semantics the kernel reproduces;
    not the production path (it shuffles the corpus' full text)."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        _lines(t).alias("__lines__"),
        # coalesce: word_shingles(NULL) otherwise yields a phantom ""
        # bigram (concat_ws over a null slice) -> top_bigram_frac 1.0 for
        # a textless doc; "" correctly shingles to the empty array
        TX.word_shingles(F.coalesce(t, F.lit("")), 2).alias("__bi__"),
    )

    line_counts = (
        base.select(id_col, F.explode("__lines__").alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("chars", F.length("line"))
    )
    per_doc_lines = line_counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt")).alias("dup_line_frac"),
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.col("chars")).otherwise(0))
            / F.sum(F.col("cnt") * F.col("chars"))
        ).alias("dup_line_char_frac"),
    )

    bi_counts = (
        base.select(id_col, F.explode("__bi__").alias("bi"))
        .groupBy(id_col, "bi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc_bi = bi_counts.groupBy(id_col).agg(
        F.max("cnt").alias("top_bigram_cnt"),
        F.sum("cnt").alias("n_bigrams"),
    )

    # id spine only — the text-derived arrays are pruned by Catalyst, so
    # this branch is a narrow one-column scan, not a third text pass
    ids = base.select(id_col)
    out = (
        ids.join(per_doc_lines, id_col, "left")
        .join(per_doc_bi, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.col("dup_line_frac"),
            F.col("dup_line_char_frac"),
            # bigram token coverage: count*2 tokens of (n_bigrams + 1)
            F.when(
                F.col("n_bigrams").isNotNull(),
                F.least(
                    F.col("top_bigram_cnt") * 2.0 / (F.col("n_bigrams") + 1),
                    F.lit(1.0),
                ),
            ).alias("top_bigram_frac"),
        )
    )
    return out


def _line_dedup_broadcast(
    df: DataFrame,
    min_docs: int,
    id_col: str,
    text_col: str,
    broadcast_limit: int,
    sep: str = "\n",
) -> DataFrame | None:
    """Zero-corpus-shuffle line dedup (see :func:`line_dedup`). Returns
    None when the boilerplate set exceeds ``broadcast_limit`` (caller
    falls back to the shuffle plan).

    Line keys are ``pandas.util.hash_array`` (SipHash, fixed key —
    deterministic across executors/sessions), computed inside the kernels
    so both the frequency pass and the rewrite pass agree without needing
    a Spark-side hash function reimplemented in numpy.
    """
    import warnings

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType

    def _emit_pairs(batches):
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)  # explode() indices must be 0..n-1
            texts = pdf[text_col]
            ok = texts.notna()
            if not ok.any():
                continue
            ex = texts[ok].str.split(sep, regex=False).explode()
            ex = ex[ex != ""]  # blank units are structure, never boilerplate
            if not len(ex):
                continue
            h = pd.util.hash_array(ex.to_numpy(dtype=object)).view("int64")
            out = pd.DataFrame(
                {"__lk__": h, id_col: pdf[id_col].to_numpy()[ex.index.to_numpy()]}
            ).drop_duplicates()  # map-side (line, doc) dedup before the exchange
            yield out

    pair_schema = T.StructType(
        [T.StructField("__lk__", T.LongType()), T.StructField(id_col, id_type)]
    )
    boiler_df = (
        df.select(id_col, text_col)
        .mapInPandas(_emit_pairs, pair_schema)
        .groupBy("__lk__")
        .agg(F.countDistinct(id_col).alias("__ndocs__"))
        .filter(F.col("__ndocs__") >= min_docs)
        .select("__lk__")
    )
    boiler_df.persist()
    try:
        n_boiler = boiler_df.count()
        if n_boiler > broadcast_limit:
            warnings.warn(
                f"line_dedup: boilerplate set ({n_boiler} lines) exceeds "
                f"broadcast_limit={broadcast_limit}; falling back to the "
                "shuffle plan. Raise the limit if the driver has memory."
            )
            return None
        boiler = np.sort(
            boiler_df.toPandas()["__lk__"].to_numpy(dtype="int64")
        )
    finally:
        boiler_df.unpersist()

    others = [c for c in df.columns if c != text_col]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != text_col]
        + [T.StructField(text_col, T.StringType()), T.StructField("n_lines_removed", T.LongType())]
    )
    if not len(boiler):
        return df.select(*others, F.col(text_col), F.lit(0).cast("long").alias("n_lines_removed"))

    bc = spark.sparkContext.broadcast(boiler)

    def _rewrite(batches):
        barr = bc.value
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            texts = pdf[text_col]
            ok = texts.notna()
            removed = np.zeros(n, dtype="int64")
            out_text = pd.Series([None] * n, dtype=object)
            if ok.any():
                ex = texts[ok].str.split(sep, regex=False).explode()
                vals = ex.to_numpy(dtype=object)
                doc_pos = ex.index.to_numpy()
                nonblank = vals != ""
                hit = np.zeros(len(vals), dtype=bool)
                if nonblank.any():
                    h = pd.util.hash_array(vals[nonblank]).view("int64")
                    idx = np.searchsorted(barr, h)
                    idx = np.minimum(idx, len(barr) - 1)
                    hit[nonblank] = barr[idx] == h
                removed += np.bincount(doc_pos[hit], minlength=n)
                keep = ~hit
                # groupby preserves within-group (original line) order
                rebuilt = (
                    pd.Series(vals[keep], index=doc_pos[keep])
                    .groupby(level=0)
                    .agg(sep.join)
                )
                out_text[ok.to_numpy()] = ""  # fully-emptied docs keep ''
                out_text[rebuilt.index] = rebuilt
            feats = pd.DataFrame({text_col: out_text, "n_lines_removed": removed})
            yield pd.concat([pdf[others], feats], axis=1)

    return df.mapInPandas(_rewrite, out_schema)


def line_dedup(
    df: DataFrame,
    min_docs: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_lines: bool = True,
    strategy: str = "broadcast",
    broadcast_limit: int = 5_000_000,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document boilerplate line removal (the MassiveText line-dedup
    stage): a line occurring in at least ``min_docs`` DISTINCT documents
    is removed from every document; remaining lines are rejoined in their
    original order. Returns the input columns with ``text_col`` rewritten
    plus ``n_lines_removed``. Documents reduced to nothing keep an empty
    string (drop downstream via the quality gate, which re-runs anyway).
    Lines match EXACTLY (no trim/case folding): boilerplate repeats
    byte-identically; anything fuzzier belongs to the near-dup family.

    ``strategy='broadcast'`` (default, the lake-scale shape): pass 1 is an
    Arrow kernel emitting deduped ``(line_hash, id)`` pairs — the ONLY wide
    edge, 16 bytes per distinct (line, doc); the boilerplate hash set
    (lines in >= min_docs docs — megabytes for real corpora, it IS the
    boilerplate) is collected and broadcast; pass 2 rewrites the text in a
    zero-shuffle kernel (sorted-array membership via searchsorted). The
    corpus text never rides an exchange — the same structural win as
    ``repetition_stats``: the shuffle alternative exchanges the whole
    corpus twice (the mark-back join and the per-doc reassembly), ~100 TB
    at lake scale vs ~0 here. NOTE this path runs the frequency job
    EAGERLY at call time (an action computes the broadcast set); if the
    boilerplate set exceeds ``broadcast_limit`` hashes it falls back to
    the shuffle plan with a warning rather than OOM-ing the driver.

    ``strategy='shuffle'`` keeps the pure-Catalyst lazy plan (posexplode
    -> frequency agg -> mark-back join -> per-row array_sort reassembly);
    it is the pinned byte-identical twin and the fallback.

    ``hash_lines=True`` (shuffle path only) keys the frequency aggregation
    and mark-back join by ``xxhash64(line)`` instead of the line text.
    Both hashed paths share the collision caveat: a 64-bit collision could
    over-remove one innocent line corpus-wide (P ~ n_distinct^2 / 2^64 —
    negligible next to the heuristic itself).

    ``sep`` picks the dedup unit: the default ``"\\n"`` is the
    MassiveText line stage; ``"\\n\\n"`` is its PARAGRAPH stage (remove
    paragraphs repeated across >= min_docs documents). The separator is
    treated as a LITERAL string and reassembly joins with the same
    separator, so ``sep.join(text.split(sep)) == text`` holds for any
    input — unit boundaries (and byte-identity for untouched documents)
    are exact, never regex-approximated.
    """
    if strategy == "broadcast":
        out = _line_dedup_broadcast(
            df, min_docs, id_col, text_col, broadcast_limit, sep
        )
        if out is not None:
            return out
    elif strategy != "shuffle":
        raise ValueError(f"unknown line_dedup strategy {strategy!r}")
    # \Q..\E: the literal-separator contract under Java regex split
    sep_pat = "\\Q" + sep + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_pat)).alias("pos", "line"),
    )
    if hash_lines:
        lines = lines.withColumn("__lk__", F.xxhash64(F.col("line")))
        key = "__lk__"
    else:
        key = "line"
    freq = (
        # blank lines are structure (paragraph breaks), never boilerplate —
        # without this exclusion any real corpus trips the threshold on ''
        # and every paragraph break in every doc is collapsed
        lines.filter(F.col("line") != "")
        .groupBy(key)
        .agg(F.countDistinct(id_col).alias("__ndocs__"))
        .filter(F.col("__ndocs__") >= min_docs)
        .withColumn("__boiler__", F.lit(1))
    )
    marked = lines.join(freq.select(key, "__boiler__"), key, "left")
    rebuilt = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__boiler__").isNull(),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s.getField("line"),
            ),
            sep,
        ).alias("__clean__"),
        F.sum(F.when(F.col("__boiler__") == 1, 1).otherwise(0)).alias("n_lines_removed"),
    )
    others = [c for c in df.columns if c != text_col]
    return (
        df.select(*others, F.col(text_col).isNull().alias("__txt_null__"))
        .join(rebuilt, id_col, "left")
        .select(
            *others,
            # NULL text stays NULL (missing != empty); only genuinely
            # rebuilt docs get the rewritten string
            F.when(F.col("__txt_null__"), F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col("__clean__"), F.lit("")))
            .alias(text_col),
            F.coalesce(F.col("n_lines_removed"), F.lit(0)).alias("n_lines_removed"),
        )
    )


def repetition_filter(
    df: DataFrame,
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop documents exceeding the Gopher-style repetition thresholds;
    documents whose features are NULL (no lines / no bigrams) are kept.

    Zero-shuffle: features ride alongside the full row
    (``repetition_stats(passthrough=True)``), the threshold filter is a
    native projection, and the feature columns are dropped — no keep-set
    join back to the corpus by id (which would re-shuffle the corpus the
    feature pass deliberately avoided shuffling)."""
    stats = repetition_stats(df, id_col=id_col, text_col=text_col, passthrough=True)
    return stats.filter(
        (F.coalesce(F.col("dup_line_frac"), F.lit(0.0)) <= max_dup_line_frac)
        & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= max_top_bigram_frac)
    ).drop("n_lines", "dup_line_frac", "dup_line_char_frac", "top_bigram_frac")


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4-style line and page cleaning (Raffel et al. 2020, the
    "Colossal Clean Crawled Corpus" heuristics), as one zero-shuffle
    projection.

    Line rules — a line survives iff ALL of:

    - it ends in a terminal punctuation mark (``.`` ``!`` ``?`` ``"``);
      tested as a literal last-character membership, NOT a ``$`` regex
      (Java ``$`` matches before a final ``\\r`` line terminator, RE2
      does not — the suffix test is the cross-engine-identical form),
    - it has at least ``min_words`` whitespace-separated words,
    - it does not contain ``javascript`` (case-insensitive).

    Page rules (``keep_doc``):

    - the CLEANED text has at least ``min_sentences`` sentences
      (terminal-punct occurrences — the standard reimplementation
      proxy), and
    - the ORIGINAL page contains neither ``{`` (code) nor the phrase
      ``lorem ipsum`` (case-insensitive), per the paper's page-level
      blacklist.

    Returns the input columns with ``text_col`` rewritten to the kept
    lines joined by ``\\n``, plus ``n_lines_kept``, ``n_lines_removed``
    (counted over raw newline-split segments, so blank segments count as
    removed), ``sentence_count``, and ``keep_doc``. The caller filters on
    ``keep_doc`` (kept separate so rejected pages can be audited). NULL
    text stays NULL with zero counts and ``keep_doc = false``.

    Scale shape: a single narrow projection — split / HOF filter /
    rejoin run inside the scan stage, no exchange, no Python. The HOF
    lambda touches only its own element (the known interpreted-HOF
    hazard concerns free heavy subexpressions; every term here depends
    on ``x``)."""
    t = F.col(text_col)
    # materialize the split and the filtered array as projection columns:
    # HOFs evaluate interpreted with no subexpression elimination, so a
    # multi-referenced array expression would re-split/re-filter the text
    # once PER REFERENCE. CollapseProject keeps multi-use non-cheap
    # producer columns materialized, so each array is computed once/row.
    lines_c, kept_c, clean_c = "__c4_lines__", "__c4_kept__", "__c4_clean__"
    staged = df.select(
        "*", F.split(F.coalesce(t, F.lit("")), "\n").alias(lines_c)
    ).select(
        "*",
        F.filter(
            F.col(lines_c),
            lambda x: F.substring(x, -1, 1).isin(".", "!", "?", '"')
            & (F.size(F.split(F.trim(x), r"\s+")) >= F.lit(min_words))
            & ~F.lower(x).contains("javascript"),
        ).alias(kept_c),
    ).select("*", F.array_join(F.col(kept_c), "\n").alias(clean_c))
    lines, kept, clean = F.col(lines_c), F.col(kept_c), F.col(clean_c)
    sentences = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    keep = (
        (sentences >= F.lit(min_sentences))
        & ~t.contains("{")
        & ~F.lower(t).contains("lorem ipsum")
    )
    others = [c for c in df.columns if c != text_col]
    return staged.select(
        *others,
        F.when(t.isNull(), F.lit(None).cast("string")).otherwise(clean).alias(text_col),
        F.when(t.isNull(), F.lit(0)).otherwise(F.size(kept)).cast("long").alias("n_lines_kept"),
        F.when(t.isNull(), F.lit(0))
        .otherwise(F.size(lines) - F.size(kept))
        .cast("long")
        .alias("n_lines_removed"),
        F.when(t.isNull(), F.lit(0)).otherwise(sentences).cast("long").alias("sentence_count"),
        F.coalesce(keep, F.lit(False)).alias("keep_doc"),
    )


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, Appendix A —
    MassiveWeb filtering) as one zero-shuffle projection. A document is
    kept (``keep_doc``) iff ALL of:

    - word count in ``[min_words, max_words]`` (whitespace tokens),
    - mean word length in ``[min_mean_word_len, max_mean_word_len]``,
    - symbol-to-word ratio ``<= max_symbol_ratio`` (symbols: ``#``
      occurrences plus non-overlapping ``...`` occurrences, counted via
      replace-length arithmetic — identical left-to-right semantics in
      Java and RE2-free on both engines),
    - at most ``max_bullet_line_frac`` of non-empty trimmed lines start
      with a bullet (``•`` ``-`` ``*``),
    - at most ``max_ellipsis_line_frac`` of non-empty trimmed lines end
      with ``...`` or ``…``,
    - at least ``min_alpha_word_frac`` of words contain an alphabetic
      character,
    - at least ``min_stop_hits`` DISTINCT words from the paper's 8-word
      stop list {the, be, to, of, and, that, have, with} occur (matched
      against lowercased whitespace tokens — a trailing-punctuation
      token like ``the,`` deliberately does not match, exactly as in
      the common reimplementations).

    All ratios are single int/int divisions (bit-identical across
    engines — no float accumulation); line fractions are NULL when the
    document has no non-empty lines (and such a document fails the word
    count anyway). NULL text yields zero counts, NULL ratios,
    ``keep_doc = false``.

    Scale shape: one narrow projection, split / HOF filter / aggregate
    inside the scan stage, no exchange, no Python; every HOF lambda
    term depends on its element (no free heavy subexpressions)."""
    t = F.col(text_col)
    raw = F.coalesce(t, F.lit(""))
    # Stage every array (and every HOF-derived count) as its own
    # projection column so each HOF runs EXACTLY ONCE per row: HOFs
    # evaluate interpreted with no subexpression elimination, and the
    # naive formulation referenced the words array from ~12 expressions
    # (8 of them the stop-word probes) — each reference re-splitting and
    # re-filtering the text. CollapseProject keeps multi-use non-cheap
    # producer columns materialized. Measured ~4x on the 20M-doc
    # rehearsal (BENCH/BASELINE.md, quality stage).
    w_c, l_c, lw_c = "__gq_w__", "__gq_l__", "__gq_lw__"
    s1 = df.select(
        "*",
        F.filter(
            F.split(F.trim(raw), r"\s+"), lambda w: w != F.lit("")
        ).alias(w_c),
        F.filter(
            F.transform(F.split(raw, "\n"), lambda x: F.trim(x)),
            lambda x: x != F.lit(""),
        ).alias(l_c),
    )
    words, lines = F.col(w_c), F.col(l_c)
    s2 = s1.select(
        "*", F.transform(words, lambda w: F.lower(w)).alias(lw_c)
    )
    lowered = F.col(lw_c)
    counts = {
        "__gq_nw__": F.size(words),
        "__gq_sl__": F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ),
        "__gq_na__": F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))),
        "__gq_nl__": F.size(lines),
        "__gq_nb__": F.size(
            F.filter(lines, lambda x: F.substring(x, 1, 1).isin("•", "-", "*"))
        ),
        "__gq_ne__": F.size(
            F.filter(
                lines,
                # endswith, not substring(x,-3,3): negative-pos substring
                # on a string shorter than |pos| is engine-specific
                lambda x: x.endswith("...") | (F.substring(x, -1, 1) == "…"),
            )
        ),
        "__gq_sh__": sum(
            F.array_contains(lowered, sw).cast("int")
            for sw in ("the", "be", "to", "of", "and", "that", "have", "with")
        ),
        "__gq_nhash__": F.length(raw)
        - F.length(F.replace(raw, F.lit("#"), F.lit(""))),
        "__gq_nellip__": (
            F.length(raw) - F.length(F.replace(raw, F.lit("..."), F.lit("")))
        )
        / F.lit(3),
    }
    s3 = s2.select("*", *(c.alias(n) for n, c in counts.items()))
    n_words = F.col("__gq_nw__")
    n_lines = F.col("__gq_nl__")
    stop_hits = F.col("__gq_sh__")
    mean_word_len = F.when(
        n_words > 0, F.col("__gq_sl__").cast("double") / n_words.cast("double")
    )
    symbol_ratio = F.when(
        n_words > 0,
        (F.col("__gq_nhash__") + F.col("__gq_nellip__")).cast("double")
        / n_words.cast("double"),
    )
    bullet_line_frac = F.when(
        n_lines > 0, F.col("__gq_nb__").cast("double") / n_lines.cast("double")
    )
    ellipsis_line_frac = F.when(
        n_lines > 0, F.col("__gq_ne__").cast("double") / n_lines.cast("double")
    )
    alpha_word_frac = F.when(
        n_words > 0, F.col("__gq_na__").cast("double") / n_words.cast("double")
    )
    keep = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= F.lit(max_symbol_ratio))
        & (F.coalesce(bullet_line_frac, F.lit(0.0)) <= F.lit(max_bullet_line_frac))
        & (F.coalesce(ellipsis_line_frac, F.lit(0.0)) <= F.lit(max_ellipsis_line_frac))
        & (alpha_word_frac >= F.lit(min_alpha_word_frac))
        & (stop_hits >= F.lit(min_stop_hits))
    )
    null_text = t.isNull()
    dnull = F.lit(None).cast("double")
    return s3.select(
        *df.columns,
        F.when(null_text, F.lit(0)).otherwise(n_words).cast("long").alias("n_words"),
        F.when(null_text, dnull).otherwise(mean_word_len).alias("mean_word_len"),
        F.when(null_text, dnull).otherwise(symbol_ratio).alias("symbol_ratio"),
        F.when(null_text, dnull).otherwise(bullet_line_frac).alias("bullet_line_frac"),
        F.when(null_text, dnull).otherwise(ellipsis_line_frac).alias("ellipsis_line_frac"),
        F.when(null_text, dnull).otherwise(alpha_word_frac).alias("alpha_word_frac"),
        F.when(null_text, F.lit(0)).otherwise(stop_hits).cast("int").alias("stop_hits"),
        F.coalesce(F.when(~null_text, keep), F.lit(False)).alias("keep_doc"),
    )


# tag-name token (open or close) of an HTML element; the leading '/' is
# kept in the capture so '</div>' and '<div>' stay distinct in the
# signature. Java-regex/RE2 agreement subset (classes + optional only).
TAG_PATTERN = r"<(/?[a-z][a-z0-9]*)[ />]"


def template_fingerprint(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_pages: int = 1,
    keep_signature: bool = True,
) -> DataFrame:
    """Template clusters by DOM tag-sequence fingerprint: pages that
    share the exact sequence of element open/close tags were almost
    always rendered by the same template — the classic template /
    boilerplate detection signal for crawl corpora (cluster sizes feed
    boilerplate stripping and near-dup triage upstream of dedup).

    Output per cluster: ``sig_hash`` (xxhash64 of the signature),
    ``n_pages``, ``n_hosts`` (distinct linking host of ``url_col``),
    ``example_url`` (min url — a deterministic representative), plus
    the ``signature`` string itself when ``keep_signature`` (the
    comma-joined tag sequence, close tags prefixed '/'). Pages with no
    recognizable tags (or NULL html) are excluded. ``min_pages``
    prunes singleton clusters after aggregation.

    Pure Catalyst: lower → ``regexp_extract_all`` → ``array_join`` →
    one mixed count / count-distinct aggregation keyed on the
    signature (with ``keep_signature=False`` the key is the 8-byte
    xxhash64 only — the lake-scale form where multi-KB signature
    strings should not ride the exchange; cluster identity is
    unchanged because the hash is a function of the signature, modulo
    64-bit collisions). Both forms: one partial-aggregated exchange
    bounded by distinct (signature, host) combinations."""
    from pygridmap_spark.operators.linkgraph import link_host

    sig = F.array_join(
        F.regexp_extract_all(F.lower(F.col(html_col)), F.lit(TAG_PATTERN), 1),
        ",",
    )
    base = df.select(
        sig.alias("signature"),
        F.xxhash64(sig).alias("sig_hash"),
        link_host(F.col(url_col)).alias("__host__"),
        F.col(url_col).alias("__url__"),
    ).filter(F.col("signature") != "")
    keys = ["sig_hash", "signature"] if keep_signature else ["sig_hash"]
    out = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("__host__").alias("n_hosts"),
        F.min("__url__").alias("example_url"),
    )
    if min_pages > 1:
        out = out.filter(F.col("n_pages") >= F.lit(min_pages))
    return out


def _token_gram_frame(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, __toks__ array<string>, __gh__ array<long>) per input row —
    the normalized token stream plus its positional n-gram hashes, one
    Arrow pass (the minhash kernel's hashing discipline: crc32 per
    DISTINCT token via pd.factorize, position-weighted splitmix64 combine
    of n consecutive token hashes; gram i starts at token i). EVERY input
    row survives; an empty/NULL text tokenizes to [''] — the Spark
    ``split(trim(''), '\\s+')`` == DuckDB ``string_split`` semantics the
    mark-back and the oracle both assume."""
    import re as _re
    import zlib

    import numpy as np
    import pandas as pd

    from pygridmap_spark.operators.dedup import _splitmix64, _sql_type

    norm_re = _re.compile(r"[^a-z0-9]+")
    pos_mult = [
        np.uint64(((0x9E3779B97F4A7C15 * (2 * j + 1)) | 1) & 0xFFFFFFFFFFFFFFFF)
        for j in range(n)
    ]

    def _kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            tok_lists = [
                norm_re.sub(" ", str(t or "").lower()).split() or [""]
                for t in pdf[text_col]
            ]
            tok_lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            codes, uniques = pd.factorize(
                pd.Series([t for tl in tok_lists for t in tl]), sort=False
            )
            uniq_h = np.fromiter(
                (zlib.crc32(u.encode("utf-8")) for u in uniques),
                dtype=np.uint64, count=len(uniques),
            )
            th_flat = uniq_h[codes]
            starts = np.zeros(len(tok_lists), dtype=np.int64)
            np.cumsum(tok_lens[:-1], out=starts[1:])
            grams = []
            for s0, ln in zip(starts, tok_lens):
                n_g = ln - n + 1
                if n_g < 1:
                    grams.append(np.empty(0, dtype=np.int64))
                    continue
                th = th_flat[s0 : s0 + ln]
                acc = th[:n_g] * pos_mult[0]
                for j in range(1, n):
                    acc = acc ^ (th[j : j + n_g] * pos_mult[j])
                grams.append(_splitmix64(acc).astype(np.int64))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "__toks__": tok_lists, "__gh__": grams}
            )

    id_type = _sql_type(df, id_col)
    return df.select(id_col, text_col).mapInPandas(
        _kernel, f"{id_col} {id_type}, __toks__ array<string>, __gh__ array<long>"
    )


def duplicate_span_removal(
    df: DataFrame,
    ngram_n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicate-SPAN removal at token granularity — the
    distributed analog of ExactSubstr deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", public):
    any token n-gram that occurs in at least ``min_docs`` DISTINCT
    documents is treated as duplicated text, and every token covered by
    any such n-gram occurrence is removed from every document that
    carries it. Unlike :func:`line_dedup` (whole-line boilerplate), this
    catches duplicated prose that crosses line boundaries or is embedded
    mid-paragraph (quotes, syndicated passages, license blocks).

    Semantics deliberately diverge from the paper in two documented
    ways: (a) spans are removed from ALL copies, not all-but-one — the
    boilerplate convention this repo's line/paragraph stages use (a
    keep-one variant would need a deterministic owner election; add a
    ``keep_min_doc`` flag if that policy is ever required); (b) the
    unit is the NORMALIZED token stream (``functions.text.normalized``),
    so ``text_clean`` is a normalized reconstruction, not a byte-exact
    rewrite — span dedup is a destructive tokenize-level stage by
    nature, and the normalized stream is what the n-gram statistics are
    defined over.

    Output: ``(id_col, n_tokens, n_removed, text_clean)`` — original
    normalized token count, tokens removed, and the space-joined
    surviving tokens in original order ('' when everything was removed).
    Every quantity is an integer or an exact string, so the driver
    oracle (the identical pipeline on n-gram STRINGS in DuckDB)
    hash-gates the output; the Spark side exchanges 64-bit n-gram
    keys, never the strings. Equality holds up to collisions in two
    layers: each token is first hashed to a 32-bit crc32 (two distinct
    tokens collide with probability ~2^-32 and then alias corpus-wide —
    ~100 colliding pairs per 1M distinct tokens), and the 64-bit gram key
    combines those token hashes; the repo-wide minhash contract.

    Scale shape: ONE Arrow kernel pass emits the token array and the
    positional gram-hash array together (the compact per-doc frame is
    checkpointed; the gram posexplode per consumer — the distinct-doc
    frequency aggregation and the flagged-occurrence semi-join — is a
    cheap re-read); every gram-keyed exchange carries
    (8-byte hash, id, int position) rows only. The per-document flagged
    start list is doc-length-bounded, and the final mark-back is ONE
    id-keyed join of the token frame — the corpus rides exactly one
    exchange, same as line_dedup's shuffle twin. The token rewrite merges
    the sorted flagged starts into disjoint removed intervals and emits
    the kept tokens as the complement slices — O(starts + tokens) per
    row (the starts list lives below the join so projection collapse
    cannot re-inline the tokenizer into the per-element lambdas). Unlike
    line_dedup there is NO broadcast
    variant: at ``min_docs=2`` the duplicated-gram set is corpus-sized
    (it is the dedup signal itself, not a small boilerplate set), so
    the shuffle mark-back IS the lake-scale plan."""
    n = int(ngram_n)
    # ONE Arrow kernel pass emits the normalized token array AND the
    # positional n-gram hashes together (guide §4.2): the former Catalyst
    # chain built every n-gram STRING through interpreted HOFs
    # (slice+concat per gram) and xxhash64'd it — measured as the bulk of
    # this query's 44 executor-seconds at sf0.1 — and tokenized the text
    # a second time for the mark-back frame. The kernel hashes distinct
    # TOKENS once (crc32, C) and combines n consecutive token hashes
    # positionally; gram array index i IS token start index i, so
    # position alignment between grams and tokens is by construction.
    # The internal hash family change is output-invisible (duplicate
    # detection over the gram hashes equals detection over gram strings
    # up to collisions of the 32-bit per-token crc32 and of the 64-bit
    # combine — the repo-wide minhash contract the oracle gates).
    per_doc = _token_gram_frame(df, n, id_col, text_col).localCheckpoint(eager=False)
    base = per_doc.select(F.col(id_col), "__toks__")
    grams = per_doc.select(
        F.col(id_col), F.posexplode("__gh__").alias("__s0__", "__gh__")
    )
    dup = (
        grams.select("__gh__", id_col)
        .distinct()
        .groupBy("__gh__")
        .agg(F.count(F.lit(1)).alias("__nd__"))
        .filter(F.col("__nd__") >= F.lit(int(min_docs)))
    )
    starts = (
        grams.join(dup.select("__gh__"), "__gh__", "leftsemi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__s0__")).alias("__starts__"))
    )
    joined = base.join(starts, id_col, "left").select(
        F.col(id_col),
        "__toks__",
        F.coalesce("__starts__", F.array().cast("array<int>")).alias(
            "__starts__"
        ),
    )
    # Mark-back as interval merge: the old form filtered every token
    # through exists() over the whole flagged-start list — O(tokens x
    # starts) per row, quadratic on a document that is mostly
    # duplicated spans (the exact ExactSubstr target). Instead, merge
    # the SORTED starts into disjoint removed intervals (a start opens
    # a new interval iff it lies more than n past its predecessor;
    # overlapping/adjacent spans fuse) and emit the kept tokens as the
    # complement slices — O(starts + tokens) per row. F.get (not
    # element_at) so the out-of-range neighbor probes yield NULL
    # instead of throwing under ANSI mode; __starts__ is a join-output
    # attribute, so the per-element get() is an O(1) array access, not
    # a re-evaluated subexpression (CLAUDE.md HOF rule).
    ss = F.col("__starts__")
    big = F.lit(2_147_483_647)
    n_lit = F.lit(n)
    ivl_los = F.filter(
        F.transform(
            ss, lambda s, i: F.when(F.coalesce(s - F.get(ss, i - 1), big) > n_lit, s)
        ),
        lambda x: x.isNotNull(),
    )
    ivl_his = F.filter(
        F.transform(
            ss,
            lambda s, i: F.when(
                F.coalesce(F.get(ss, i + 1) - s, big) > n_lit, s + n_lit
            ),
        ),
        lambda x: x.isNotNull(),
    )
    gap_lo = F.concat(F.array(F.lit(0)), ivl_his)
    gap_hi = F.concat(ivl_los, F.array(F.size("__toks__")))
    kept = F.flatten(
        F.zip_with(
            gap_lo,
            gap_hi,
            lambda a, b: F.slice(F.col("__toks__"), a + F.lit(1), b - a),
        )
    )
    out = joined.withColumn("__kept__", kept).select(
        F.col(id_col),
        F.size("__toks__").cast("long").alias("n_tokens"),
        (F.size("__toks__") - F.size("__kept__")).cast("long").alias(
            "n_removed"
        ),
        F.array_join("__kept__", " ").alias("text_clean"),
    )
    return out
