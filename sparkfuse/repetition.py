"""Within-document repetition signals (Gopher-style quality filters).

LLM curation pipelines drop documents dominated by repeated content —
boilerplate headers, navigation menus, scraped tables, log spew — using
per-document repetition fractions (Rae et al., "Scaling Language Models:
Gopher", §A1.1: duplicate-line and duplicate-n-gram filters). This module
computes the integer measurements those fractions are made of; the
thresholds stay with the caller, like ``textops.quality_stats``.

100-TB design — the whole point of the formulation:

* ``repetition_stats`` is a SINGLE CODEGEN PROJECTION over the scan — no
  exchange, no Python, no per-doc group-by. Every count uses the
  total-minus-distinct identity (``size(arr) - size(array_distinct(arr))``
  and its character-sum analog), so "how repeated is this document" never
  needs a (doc, gram) shuffle. Repetition filtering therefore runs at
  scan speed beside the other quality gates, which is what lets it sit
  in the first pipeline stage at 10^12 documents.
* ``top_gram_counts`` (the one metric that genuinely needs per-gram
  counting — the most-frequent-n-gram load) pays exactly one shuffle of
  (doc, gram) pairs; partial aggregation collapses each document's gram
  multiset map-side because a document's exploded rows stay in its input
  partition, so the exchange carries near-distinct (doc, gram) keys.

Definitions (exact, deterministic, shared verbatim with the DuckDB
oracle twins — every count is BIGINT):

* lines = non-empty elements of ``split(text, '\\n')``.
* n-grams = space-joined runs of ``n`` consecutive tokens
  (``textops.tokens_col`` tokenization — the explicit ``[ \\t\\n\\r\\f]+``
  class both engines agree on); a document with fewer than ``n`` tokens
  has zero n-grams.
* "dup" counts occurrences BEYOND THE FIRST of each distinct value:
  ``n_dup_lines = n_lines - n_distinct_lines``; ``chars_dup_*`` is the
  character sum of those beyond-first occurrences (for n-grams this
  includes the joining spaces). A fully boilerplate document (one line
  repeated L times) scores ``n_dup_lines / n_lines = (L-1)/L → 1``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkfuse.textops import TOKEN_SPLIT, grams_chain_col, tokens_col

DEFAULT_NGRAM_NS = (2, 3)


def _chars(arr: Column) -> Column:
    """Total character count of an array<string> (0 for empty).

    ``length(array_join(arr, ''))`` rather than an ``aggregate`` fold:
    the fold is a lambda HOF, evaluated INTERPRETED once per element
    (allocating and walking an Add expression tree each time — six such
    folds made repetition_stats' projection ~40% interpreted-eval), while
    ArrayJoin is one non-lambda expression per row whose concat loop runs
    in the JVM. Equivalent for the NULL-free arrays produced here
    (split/filter/array_distinct output): array_join skips NULL elements,
    matching a fold over the non-null ones.
    """
    return F.length(F.array_join(arr, "")).cast("long")


def _lines_col(text: str | Column) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, "\n"), lambda l: l != F.lit(""))


def _grams_col(toks: Column, n: int) -> Column:
    """Array of space-joined n-grams; empty when size(toks) < n — the
    chained-zip_with builder (shared with the shingle/decontam paths;
    rationale and the O(tokens²) index-lambda trap it avoids:
    ``textops.grams_chain_col``)."""
    return grams_chain_col(toks, n)


def _dup_cols(arr: Column, suffix: str) -> list[Column]:
    distinct = F.array_distinct(arr)
    return [
        F.size(arr).cast("long").alias(f"n_{suffix}"),
        (F.size(arr) - F.size(distinct)).cast("long").alias(f"n_dup_{suffix}"),
        (_chars(arr) - _chars(distinct)).cast("long").alias(f"chars_dup_{suffix}"),
    ]


def repetition_cols(
    text_col: str | Column, ngram_ns=DEFAULT_NGRAM_NS
) -> list[Column]:
    """The per-document repetition columns as plain Column expressions, so
    callers can fuse them into an existing projection (one scan, one
    codegen span) instead of paying a join — the production composition
    with the other quality gates."""
    cols = _dup_cols(_lines_col(text_col), "lines")
    toks = tokens_col(text_col)
    for n in ngram_ns:
        cols.extend(_dup_cols(_grams_col(toks, n), f"grams_{n}"))
    return cols


def _dup_by_doc(doc_of, codes, lens, n_docs: int):
    """(n_dup, chars_dup) per doc for positions labeled (doc, code):
    sort by (doc, code), mark repeats-beyond-first, bincount per doc.
    ``lens`` are the per-position character lengths. All int64-exact
    (float64 weights are exact below 2^53)."""
    import numpy as np

    if len(codes) == 0:
        z = np.zeros(n_docs, dtype=np.int64)
        return z, z.copy()
    key = doc_of.astype(np.int64) * (np.int64(codes.max()) + 1) + codes
    order = np.argsort(key, kind="stable")
    sk = key[order]
    dup = np.empty(len(sk), dtype=bool)
    dup[0] = False
    np.not_equal(sk[1:], sk[:-1], out=dup[1:])
    np.logical_not(dup[1:], out=dup[1:])
    dup_docs = doc_of[order][dup]
    n_dup = np.bincount(dup_docs, minlength=n_docs).astype(np.int64)
    chars_dup = np.bincount(
        dup_docs, weights=lens[order][dup].astype(np.float64), minlength=n_docs
    ).astype(np.int64)
    return n_dup, chars_dup


def _repetition_batch(batch, ngram_ns, out_schema):
    """One Arrow RecordBatch (id, text) → RecordBatch of exact repetition
    counts. All string work is pyarrow.compute C++ kernels (RE2 split,
    dictionary encode, utf8_length — verified element-for-element
    equivalent to the Java-regex SQL form on the edge corpus); duplicate
    counting is numpy sort + bincount over the dictionary codes. No
    per-token/per-gram Python objects anywhere — which, beyond raw
    speed, sidesteps both the interpreted-HOF JIT-pollution sensitivity
    of the SQL form and the 3.5M-strings/batch allocation churn a
    re.split formulation measured (PLANS.md §31)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    text = batch.column(1)
    n_docs = len(text)
    nullmask = pc.is_null(text).to_numpy(zero_copy_only=False)
    cols = []

    def emit(arr):
        cols.append(pa.array(arr, type=pa.int64(), mask=nullmask))

    # ---- lines: literal \n split, empties dropped ------------------------
    ls = pc.split_pattern(text, pattern="\n")
    raw_counts = pc.list_value_length(ls).to_numpy(zero_copy_only=False)
    raw_counts = np.nan_to_num(raw_counts).astype(np.int64)
    flat_lines = ls.flatten()
    doc_of_line = np.repeat(np.arange(n_docs), raw_counts)
    ne = pc.not_equal(flat_lines, "").to_numpy(zero_copy_only=False)
    line_counts = np.bincount(doc_of_line[ne], minlength=n_docs).astype(np.int64)
    if len(flat_lines):
        de = pc.dictionary_encode(flat_lines)
        lcodes = de.indices.to_numpy().astype(np.int64)[ne]
        llens = pc.utf8_length(de.dictionary).to_numpy().astype(np.int64)
        n_dup, chars_dup = _dup_by_doc(
            doc_of_line[ne], lcodes, llens[lcodes], n_docs
        )
    else:
        n_dup = chars_dup = np.zeros(n_docs, dtype=np.int64)
    emit(line_counts)
    emit(n_dup)
    emit(chars_dup)

    # ---- n-grams over tokens_col tokens ----------------------------------
    # tokens_col contract: split(trim(text)) — SQL trim strips 0x20
    # spaces only, hence characters=" ", never full whitespace trim
    toks = pc.split_pattern_regex(
        pc.utf8_trim(text, characters=" "), pattern="[ \t\n\r\f]+"
    )
    tok_counts = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
    tok_counts = np.nan_to_num(tok_counts).astype(np.int64)
    total = int(tok_counts.sum())
    if total:
        det = pc.dictionary_encode(toks.flatten())
        tcodes = det.indices.to_numpy().astype(np.int64)
        K = np.int64(len(det.dictionary))
        tlens = pc.utf8_length(det.dictionary).to_numpy().astype(np.int64)
        cum = np.concatenate(([0], np.cumsum(tlens[tcodes])))
        doc_of_tok = np.repeat(np.arange(n_docs), tok_counts)
        starts = np.concatenate(([0], np.cumsum(tok_counts)[:-1]))
        pos_in_doc = np.arange(total) - starts[doc_of_tok]
    for n in ngram_ns:
        n_grams = np.maximum(tok_counts - (n - 1), 0)
        if total == 0 or n_grams.sum() == 0:
            emit(n_grams)
            emit(np.zeros(n_docs, dtype=np.int64))
            emit(np.zeros(n_docs, dtype=np.int64))
            continue
        pos = np.nonzero(pos_in_doc <= tok_counts[doc_of_tok] - n)[0]
        # exact gram identity: chained combine-and-recompact of token
        # codes (no hashing anywhere — np.unique recompaction keeps every
        # intermediate below 2^63: prefix codes < positions, * K < 2^63)
        c = tcodes[pos]
        for j in range(1, n):
            c = c * K + tcodes[pos + j]
            if j < n - 1:
                c = np.unique(c, return_inverse=True)[1].astype(np.int64)
        gram_lens = cum[pos + n] - cum[pos] + (n - 1)
        n_dup, chars_dup = _dup_by_doc(doc_of_tok[pos], c, gram_lens, n_docs)
        emit(n_grams)
        emit(n_dup)
        emit(chars_dup)
    return pa.RecordBatch.from_arrays([batch.column(0), *cols], schema=out_schema)


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_ns=DEFAULT_NGRAM_NS,
    engine: str = "arrow",
) -> DataFrame:
    """Per-document repetition measurements (module docstring for the
    exact definitions). Two engines, bit-identical outputs (differential-
    and oracle-pinned):

    * ``engine="arrow"`` (default): one ``mapInArrow`` pass — tokens and
      lines factorized per Arrow batch, duplicate counting by sort +
      bincount in numpy. Besides being ~3x faster clean, this path is
      IMMUNE to interpreted-eval JIT pollution: the SQL form's chained
      HOFs run interpreted, and after a session has executed many diverse
      plans their shared eval call sites go megamorphic — the same
      repetition query measured 12.6 s early in a session and 30.9 s
      right after a mixed workload (PLANS.md §28/§17 family). The numpy
      kernel never touches those call sites. Still zero exchanges: scan →
      MapInPandas, column-pruned to (id, text).
    * ``engine="sql"``: the pure-JVM staged projection (kept for
      fuse-into-projection composition and as the cross-engine twin).
    """
    if engine == "arrow":
        from pyspark.sql.types import LongType, StructField, StructType

        ns = tuple(ngram_ns)
        id_field = df.schema[id_col]
        fields = [StructField(id_col, id_field.dataType, id_field.nullable)]
        names = ["n_lines", "n_dup_lines", "chars_dup_lines"]
        for n in ns:
            names += [f"n_grams_{n}", f"n_dup_grams_{n}", f"chars_dup_grams_{n}"]
        fields += [StructField(nm, LongType(), True) for nm in names]

        def run(batches):
            import pyarrow as pa

            out_schema = None
            for batch in batches:
                if not batch.num_rows:
                    continue
                if out_schema is None:
                    out_schema = pa.schema(
                        [batch.schema.field(0)]
                        + [pa.field(nm, pa.int64()) for nm in names]
                    )
                yield _repetition_batch(batch, ns, out_schema)

        return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
            run, StructType(fields)
        )
    if engine != "sql":
        raise ValueError(f"unknown engine {engine!r}")
    return _repetition_stats_sql(df, id_col, text_col, ngram_ns)


def _repetition_stats_sql(
    df: DataFrame, id_col: str, text_col: str, ngram_ns=DEFAULT_NGRAM_NS
) -> DataFrame:
    """Per-document repetition measurements (see module docstring for the
    exact definitions). Projection-only — no exchange.

    Staged through explicit projections (tokens → gram/line arrays +
    their distincts → counts) so each array materializes ONCE per row:
    inlined, the interpreted HOF evaluator recomputes a repeated
    subexpression at every use site (4 uses per array here, and the
    tokenization under all of them). CollapseProject leaves the stages
    alone because every staged alias is non-cheap and multiply
    referenced. ``repetition_cols`` remains the single-expression form
    for fusing into an existing projection — correct but with a
    constant-factor re-evaluation cost; this staged form is the one to
    benchmark and the one the entry row uses.

    Two further interpreted-HOF savings over the naive staging (the gram
    build was ~65% of the projection at sf1.0):

    * incremental chains — the (n+1)-gram chain extends the staged
      n-gram chain with ONE zip_with instead of rebuilding from the
      tokens (2-and-3-gram: 2 zip passes instead of 3);
    * no null-filter passes — the RAW chain (tail positions NULL) goes
      straight to counting: gram count is size arithmetic, the distinct
      count subtracts the single NULL ``array_distinct`` keeps, and
      ``array_join`` skips NULLs so the char sums never see them. All
      three agree exactly with the filtered-array formulation (pinned by
      the cross-engine oracle, which computes the filtered form).
    """
    ns = sorted(set(ngram_ns))
    if ns != list(ngram_ns):
        # preserve caller column order for duplicates/descending input
        return _repetition_stats_filtered(df, id_col, text_col, ngram_ns)
    toks = df.select(
        F.col(id_col),
        _lines_col(text_col).alias("_lines"),
        tokens_col(text_col).alias("_toks"),
    )
    # raw (null-padded) chains, each built from the previous staged one
    staged = toks
    prev_n, prev_col = 1, "_toks"
    for n in ns:
        chain = F.col(prev_col)
        for k in range(prev_n, n):
            nxt = F.slice(
                F.col("_toks"), k + 1, F.greatest(F.size("_toks") - k, F.lit(0))
            )
            chain = F.zip_with(chain, nxt, lambda g, t: F.concat(g, F.lit(" "), t))
        staged = staged.select("*", chain.alias(f"_c{n}"))
        prev_n, prev_col = n, f"_c{n}"
    arrays = staged.select(
        F.col(id_col),
        F.size("_toks").alias("_nt"),
        "_lines",
        F.array_distinct("_lines").alias("_lines_d"),
        *[
            c
            for n in ns
            for c in (
                F.col(f"_c{n}"),
                F.array_distinct(f"_c{n}").alias(f"_c{n}_d"),
            )
        ],
    )

    def line_counts() -> list[Column]:
        a, d = F.col("_lines"), F.col("_lines_d")
        return [
            F.size(a).cast("long").alias("n_lines"),
            (F.size(a) - F.size(d)).cast("long").alias("n_dup_lines"),
            (_chars(a) - _chars(d)).cast("long").alias("chars_dup_lines"),
        ]

    def gram_counts(n: int) -> list[Column]:
        a, d, nt = F.col(f"_c{n}"), F.col(f"_c{n}_d"), F.col("_nt")
        if n == 1:
            n_grams, n_distinct = F.size(a), F.size(d)
        else:
            # gram count is pure arithmetic on the token count (NULL
            # text propagates through the when); the raw chain always
            # holds exactly one distinct NULL tail marker (split output
            # is never empty), which array_distinct keeps — subtract it
            n_grams = F.when(nt >= n, nt - (n - 1)).when(nt.isNotNull(), F.lit(0))
            n_distinct = F.size(d) - 1
        return [
            n_grams.cast("long").alias(f"n_grams_{n}"),
            (n_grams - n_distinct).cast("long").alias(f"n_dup_grams_{n}"),
            (_chars(a) - _chars(d)).cast("long").alias(f"chars_dup_grams_{n}"),
        ]

    out = [F.col(id_col)] + line_counts()
    for n in ns:
        out += gram_counts(n)
    return arrays.select(*out)


def _repetition_stats_filtered(
    df: DataFrame, id_col: str, text_col: str, ngram_ns
) -> DataFrame:
    """The original filtered-array staging (kept for non-ascending
    ``ngram_ns`` so output column order always matches the input)."""
    toks = df.select(
        F.col(id_col),
        _lines_col(text_col).alias("_lines"),
        tokens_col(text_col).alias("_toks"),
    )
    arrays = toks.select(
        F.col(id_col),
        F.col("_lines"),
        F.array_distinct("_lines").alias("_lines_d"),
        *[_grams_col(F.col("_toks"), n).alias(f"_g{n}") for n in ngram_ns],
    )
    arrays = arrays.select(
        F.col(id_col),
        "_lines",
        "_lines_d",
        *[
            c
            for n in ngram_ns
            for c in (
                F.col(f"_g{n}"),
                F.array_distinct(f"_g{n}").alias(f"_g{n}_d"),
            )
        ],
    )

    def counts(arr: str, dis: str, suffix: str) -> list[Column]:
        a, d = F.col(arr), F.col(dis)
        return [
            F.size(a).cast("long").alias(f"n_{suffix}"),
            (F.size(a) - F.size(d)).cast("long").alias(f"n_dup_{suffix}"),
            (_chars(a) - _chars(d)).cast("long").alias(f"chars_dup_{suffix}"),
        ]

    out = [F.col(id_col)] + counts("_lines", "_lines_d", "lines")
    for n in ngram_ns:
        out += counts(f"_g{n}", f"_g{n}_d", f"grams_{n}")
    return arrays.select(*out)


def repetition_exprs_sql(
    text_sql: str, ngram_ns=DEFAULT_NGRAM_NS, tokens_sql: str | None = None
) -> str:
    """The DuckDB column expressions twinning ``repetition_cols``
    (comma-joined, same names, BIGINT each) — reusable inside a larger
    oracle SELECT. ``tokens_sql`` lets a caller that already computed the
    token list (e.g. the quality_stats oracle's ``ts``) reuse it."""
    toks = tokens_sql or (
        f"string_split_regex(trim({text_sql}), '{TOKEN_SPLIT}')"
    )
    chars = (
        "coalesce(cast(list_sum(list_transform({a}, x -> length(x))) "
        "as bigint), 0)"
    )

    def dup_exprs(arr: str, suffix: str) -> list[str]:
        dis = f"list_distinct({arr})"
        return [
            f"cast(len({arr}) as bigint) as n_{suffix}",
            f"cast(len({arr}) - len({dis}) as bigint) as n_dup_{suffix}",
            f"cast({chars.format(a=arr)} - {chars.format(a=dis)} as bigint)"
            f" as chars_dup_{suffix}",
        ]

    lines = f"list_filter(string_split({text_sql}, chr(10)), l -> l <> '')"
    exprs = dup_exprs(lines, "lines")
    for n in ngram_ns:
        grams = (
            f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
            f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
        )
        exprs.extend(dup_exprs(grams, f"grams_{n}"))
    return ", ".join(exprs)


def repetition_oracle_sql(
    table: str, id_col: str, text_col: str, ngram_ns=DEFAULT_NGRAM_NS
) -> str:
    """DuckDB twin of ``repetition_stats``."""
    return (
        f"SELECT {id_col}, {repetition_exprs_sql(text_col, ngram_ns)} "
        f"FROM {table}"
    )


def dup_fraction_gate(
    text_col: str | Column,
    max_dup_line_frac: float | None = None,
    max_dup_gram_frac: float | None = None,
    gram_n: int = 3,
) -> Column:
    """Boolean keep-predicate for repetition gating — a plain codegen
    filter over the text column (no join, no exchange), which is how the
    gate composes into ``pipeline.curate_documents``.

    Keeps a document when ``n_dup_X <= frac * n_X`` for each enabled
    gate. Documents with zero lines/grams pass (0 <= frac*0). Both sides
    of the comparison are IEEE doubles; the SQL twin casts its literal to
    DOUBLE explicitly because DuckDB would otherwise read ``0.3`` as
    exact DECIMAL and disagree with Spark's double on boundary ratios."""

    def pred(arr: Column, frac: float) -> Column:
        dup = F.size(arr) - F.size(F.array_distinct(arr))
        return dup.cast("double") <= (
            F.lit(float(frac)) * F.size(arr).cast("double")
        )

    preds = []
    if max_dup_line_frac is not None:
        preds.append(pred(_lines_col(text_col), max_dup_line_frac))
    if max_dup_gram_frac is not None:
        preds.append(
            pred(_grams_col(tokens_col(text_col), gram_n), max_dup_gram_frac)
        )
    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def dup_fraction_gate_sql(
    text_sql: str,
    max_dup_line_frac: float | None = None,
    max_dup_gram_frac: float | None = None,
    gram_n: int = 3,
) -> str:
    """DuckDB twin of ``dup_fraction_gate`` (a boolean SQL expression)."""

    def pred(arr: str, frac: float) -> str:
        dup = f"len({arr}) - len(list_distinct({arr}))"
        return (
            f"(CAST({dup} AS DOUBLE) <= "
            f"CAST('{float(frac)!r}' AS DOUBLE) * CAST(len({arr}) AS DOUBLE))"
        )

    preds = []
    if max_dup_line_frac is not None:
        lines = f"list_filter(string_split({text_sql}, chr(10)), l -> l <> '')"
        preds.append(pred(lines, max_dup_line_frac))
    if max_dup_gram_frac is not None:
        toks = f"string_split_regex(trim({text_sql}), '{TOKEN_SPLIT}')"
        grams = (
            f"list_transform(generate_series(1, len({toks}) - {gram_n - 1}), "
            f"i -> array_to_string(list_slice({toks}, i, i + {gram_n - 1}), ' '))"
        )
        preds.append(pred(grams, max_dup_gram_frac))
    return " AND ".join(preds) if preds else "TRUE"


def top_gram_counts(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """``(id, top_gram_count)`` — the highest occurrence count any single
    n-gram reaches within each document (the most-frequent-n-gram signal;
    e.g. Gopher gates on top-gram character load). Documents with fewer
    than ``n`` tokens have no grams and emit NO row, mirroring SQL GROUP
    BY semantics — callers joining back should coalesce to 0.

    This is the one repetition metric that needs true per-gram counting:
    explode → two-level aggregate, one shuffle of (doc, gram) keys. The
    exploded rows of a document never leave its input partition before
    the exchange, so the partial aggregate collapses each document's gram
    multiset map-side and the shuffle carries ~distinct (doc, gram) pairs.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(_grams_col(tokens_col(text_col), n)).alias("gram"),
    )
    return (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max("cnt").cast("long").alias("top_gram_count"))
    )


def top_gram_counts_oracle_sql(
    table: str, id_col: str, text_col: str, n: int = 3
) -> str:
    """DuckDB twin of ``top_gram_counts``."""
    toks = f"string_split_regex(trim({text_col}), '{TOKEN_SPLIT}')"
    grams = (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return (
        f"SELECT {id_col}, CAST(MAX(cnt) AS BIGINT) AS top_gram_count FROM ("
        f"SELECT {id_col}, gram, COUNT(*) AS cnt FROM "
        f"(SELECT {id_col}, unnest({grams}) AS gram FROM {table}) "
        f"GROUP BY {id_col}, gram) GROUP BY {id_col}"
    )


# ---------------------------------------------------------------------------
# cross-document boilerplate lines (CCNet-style corpus-level line dedup)
# ---------------------------------------------------------------------------


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-level boilerplate census: ``(line, n_docs)`` for every
    distinct non-empty line at least ``min_chars`` long that appears in at
    least ``min_docs`` DISTINCT documents (the CCNet-style line-dedup
    candidate set: headers, navigation menus, license banners — the
    cross-document complement of the within-document signals above).

    Scale shape: in-document duplicates collapse BEFORE the exchange
    (``array_distinct`` runs projection-side, so the explode emits each
    (doc, line) pair once and a plain COUNT(*) is the distinct-document
    count — no two-pass countDistinct), partial aggregation absorbs hot
    lines map-side, and the single shuffle carries (line) keys only."""
    lines = df.select(
        F.explode(F.array_distinct(_lines_col(text_col))).alias("line")
    )
    if min_chars > 1:
        lines = lines.where(F.length("line") >= min_chars)
    return (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(min_docs))
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boilerplate: DataFrame | None = None,
    min_docs: int = 2,
    min_chars: int = 1,
    regime: str = "broadcast",
    max_broadcast: int = 100_000,
) -> DataFrame:
    """Remove the boilerplate lines from every document; returns
    ``(id_col, text, n_lines_kept, n_lines_stripped)`` where ``text`` is
    the surviving non-empty lines rejoined by newline in original order
    (blank lines are canonicalized away — the same lines definition every
    repetition measurement here uses).

    ``boilerplate`` defaults to ``boilerplate_lines(df, ...)``; pass a
    precomputed frame (one ``line`` column) to reuse a census across
    tables or thresholds.

    Two regimes, the probe-planner pattern:

    * ``"broadcast"`` (default): collect the census — loud failure past
      ``max_broadcast`` lines with the remediation spelled out — and
      strip as ONE projection over the scan (an InSet per line inside a
      ``filter`` HOF; the set literal is a hash lookup, legal inside the
      interpreted lambda). Total cost: the census's single line shuffle;
      the strip itself adds ZERO exchanges.
    * ``"join"``: exact at any census size — posexplode to (doc, pos,
      line), left-anti join against the census, rebuild per document via
      one sort_array aggregation. Costs one extra shuffle of every line
      of the corpus plus the per-doc rebuild shuffle; use it when the
      census genuinely exceeds broadcast (min_docs near 2 over a huge
      near-duplicate corpus)."""
    if boilerplate is None:
        boilerplate = boilerplate_lines(
            df, id_col, text_col, min_docs=min_docs, min_chars=min_chars
        )
    if regime == "broadcast":
        rows = boilerplate.select("line").limit(max_broadcast + 1).collect()
        if len(rows) > max_broadcast:
            raise ValueError(
                f"boilerplate census exceeds max_broadcast={max_broadcast}; "
                "raise min_docs/min_chars, raise max_broadcast, or use "
                'regime="join"'
            )
        bl = [r["line"] for r in rows]
        staged = df.select(
            F.col(id_col), _lines_col(text_col).alias("_lines")
        )
        if bl:
            kept_col = F.filter("_lines", lambda l: ~l.isin(bl))
        else:
            kept_col = F.col("_lines")
        # staged projections: _lines/_kept are each referenced more than
        # once below — never inline a non-cheap expression into multiple
        # use sites that a HOF forces onto the interpreted path (PLANS §28)
        staged = staged.select(
            F.col(id_col), F.col("_lines"), kept_col.alias("_kept")
        )
        return staged.select(
            F.col(id_col),
            F.array_join("_kept", "\n").alias("text"),
            F.size("_kept").cast("long").alias("n_lines_kept"),
            (F.size("_lines") - F.size("_kept"))
            .cast("long")
            .alias("n_lines_stripped"),
        )
    if regime != "join":
        raise ValueError(f"unknown regime {regime!r}")
    lines_pos = df.select(
        F.col(id_col),
        F.posexplode(_lines_col(text_col)).alias("pos", "line"),
    )
    kept = lines_pos.join(boilerplate.select("line"), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(_lines_col(text_col)).cast("long").alias("_n_total"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long")).alias(
            "n_lines_kept"
        ),
        (
            F.col("_n_total")
            - F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long"))
        ).alias("n_lines_stripped"),
    )


def _boilerplate_sql(
    table: str, id_col: str, text_col: str, min_docs: int, min_chars: int
) -> str:
    lines = (
        f"list_filter(string_split({text_col}, chr(10)), l -> l <> '')"
    )
    return (
        f"SELECT line, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ("
        f"SELECT DISTINCT {id_col}, line FROM "
        f"(SELECT {id_col}, unnest({lines}) AS line FROM {table}) "
        f"WHERE length(line) >= {min_chars}"
        f") GROUP BY line HAVING COUNT(*) >= {min_docs}"
    )


def boilerplate_lines_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    min_chars: int = 1,
) -> str:
    """DuckDB twin of ``boilerplate_lines``."""
    return _boilerplate_sql(table, id_col, text_col, min_docs, min_chars)


def strip_boilerplate_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    min_chars: int = 1,
) -> str:
    """DuckDB twin of ``strip_boilerplate_lines`` (either regime — the
    regimes are required to agree bit-for-bit)."""
    lines = (
        f"list_filter(string_split({text_col}, chr(10)), l -> l <> '')"
    )
    bl = _boilerplate_sql(table, id_col, text_col, min_docs, min_chars)
    return f"""
WITH dl AS (
  SELECT {id_col}, lines,
         unnest(generate_series(1, len(lines))) AS pos
  FROM (SELECT {id_col}, {lines} AS lines FROM {table})
), dlp AS (
  SELECT {id_col}, pos, lines[pos] AS line FROM dl
), bl AS ({bl}),
kept AS (
  SELECT {id_col}, pos, line FROM dlp
  WHERE line NOT IN (SELECT line FROM bl)
), reb AS (
  SELECT {id_col}, string_agg(line, chr(10) ORDER BY pos) AS text,
         CAST(COUNT(*) AS BIGINT) AS n_lines_kept
  FROM kept GROUP BY {id_col}
)
SELECT tot.{id_col},
  coalesce(reb.text, '') AS text,
  CAST(coalesce(reb.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
  CAST(tot.n - coalesce(reb.n_lines_kept, 0) AS BIGINT) AS n_lines_stripped
FROM (SELECT {id_col}, len({lines}) AS n FROM {table}) tot
LEFT JOIN reb USING ({id_col})
"""
