"""Token-span exact-substring deduplication via winnowing fingerprints.

Finds runs of >= ``window + w - 1`` tokens that repeat across documents
of the pre-tokenized sequence table (the north-rule input shape) — the
ExactSubstr dedup step of LLM corpus preparation (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better", which uses
a suffix array; suffix arrays don't distribute, winnowing does).

Algorithm (Schleimer/Wilkerson/Aiken 2003, "Winnowing: Local Algorithms
for Document Fingerprinting", SIGMOD):

1. hash every w-token gram with a polynomial rolling hash (31-bit
   modulus so the fold stays inside BIGINT under ANSI mode),
2. slide a window of ``window`` consecutive gram hashes over each
   document and select the leftmost minimum of each window,
3. fingerprint each selected position with md5 over the actual w-gram
   (the cheap poly hash only steers *selection*; the md5 re-hash makes
   grouping collision-free and SQL-reproducible),
4. group by fingerprint: any fingerprint held by >= 2 documents marks
   an exactly-repeated token span.

The selection is content-defined, so two documents sharing a token run
select the *same* positions inside it — the winnowing guarantee: every
shared run of at least ``window + w - 1`` tokens contributes at least
one common fingerprint (proof: the run contains a full window of
shared gram hashes; both documents pick that window's minimum).

Scale posture (100 TB): steps 1–3 are a pure per-row Catalyst map
(O(n_tok * (w + window)) work per document, zero Python, pipelined into
the scan); only ~2/(window+1) of gram positions survive selection
(winnowing's expected density), so the exploded fingerprint table is a
small fraction of the token count, and step 4 is one hash aggregation
with map-side partials. No self-join, no n^2 anywhere. Compare
reference prepare-stage hashing: sparrow-runtime/src/prepare.rs
(per-row hash kernels feeding a grouped merge).

The per-gram / per-window arrays are STAGED through projections
(tokens -> gram hashes -> selected positions) because Catalyst skips
common-subexpression elimination for any expression containing a
lambda (see repetition_signals in text.py for the measured cost).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: polynomial rolling-hash parameters. acc < MOD (~2^31), BASE ~2^20,
#: token ids < 2^28 -> acc*BASE + t < 2^52: no BIGINT overflow (ANSI
#: mode raises on overflow rather than wrapping).
BASE = 1_000_003
MOD = 2_147_483_647  # 2^31 - 1


def _poly_hash(sl: Column) -> Column:
    """Deterministic fold both engines reproduce bit-for-bit (DuckDB:
    list_reduce with a prepended 0, same (a*B + t) % M step)."""
    return F.aggregate(
        sl,
        F.lit(0).cast("long"),
        lambda a, t: (a * F.lit(BASE) + t.cast("long")) % F.lit(MOD),
    )


def winnow_fingerprints(
    toks: DataFrame,
    w: int = 8,
    window: int = 25,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    passthrough: tuple[str, ...] = (),
    impl: str = "arrow",
) -> DataFrame:
    """One row per selected fingerprint: (id_col, *passthrough, pos, fp).

    ``pos`` is the 0-based token offset of the fingerprinted w-gram;
    ``fp`` is md5 over the space-joined token ids of that gram.
    Documents shorter than ``w`` tokens produce no fingerprints; a
    document with fewer than ``window`` grams is treated as a single
    window (its global minimum is selected), so every document with
    >= w tokens carries at least one fingerprint. ``passthrough``
    columns ride along unchanged (e.g. the event-time column a
    streaming consumer orders arrivals by).

    Two bit-identical implementations (equivalence fuzzed against a
    third pure-Python model in test_pipeline_ops.py):

    - ``impl="arrow"`` (default): vectorized numpy over Arrow batches
      via mapInPandas — strided fold for the gram hashes,
      sliding_window_view argmin for the selection. Higher-order
      Catalyst lambdas don't participate in whole-stage codegen (they
      evaluate interpreted, per element), so the Arrow path is the
      fast one here: measured 4x cold / 9x warm at 1M synthetic
      sequences on local[32] (~104k seq/s) — this is the documented
      exception where built-ins can't express the operator
      efficiently. Still map-only and pipelined into the scan.
    - ``impl="catalyst"``: pure column expressions, zero Python — the
      SQL-reproducible form the DuckDB oracle mirrors clause by
      clause, and the fallback wherever Python workers are undesirable.
    """
    if impl == "arrow":
        return _winnow_arrow(toks, w, window, id_col, tokens_col, passthrough)
    if impl != "catalyst":
        raise ValueError(f"impl must be 'arrow' or 'catalyst', got {impl!r}")
    pt = list(passthrough)
    n = F.size(F.col(tokens_col))
    m = n - (w - 1)  # number of w-grams
    staged = toks.filter(n >= w).select(
        F.col(id_col),
        *pt,
        F.col(tokens_col).alias("__t"),
        # gram hashes, 1-based array: __kh[i] = poly(tokens[i..i+w-1])
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: _poly_hash(F.slice(F.col(tokens_col), i, w)),
        ).alias("__kh"),
    )
    kh = F.col("__kh")
    nwin = F.greatest(F.size(kh) - (window - 1), F.lit(1))
    sel = staged.select(
        id_col,
        *pt,
        "__t",
        # leftmost min of each hash window, deduplicated; stays 1-based
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), nwin),
                lambda j: j
                - 1
                + F.array_position(
                    F.slice(kh, j, window), F.array_min(F.slice(kh, j, window))
                ),
            )
        ).alias("__sel"),
    )
    # explode_OUTER, deliberately: plain explode triggers the
    # InferFiltersFromGenerate rule, which synthesizes `size(__sel) > 0`
    # and pushes it through every staged projection down to the scan —
    # inlining the whole gram-hash + selection pipeline into a per-row
    # Filter (measured 30x slower). __sel is never empty here (any doc
    # with >= w tokens selects at least one window minimum), so outer
    # explode emits exactly the same rows without the inferred filter.
    return sel.select(
        id_col,
        *pt,
        F.explode_outer("__sel").alias("__p"),
        F.col("__t"),
    ).select(
        id_col,
        *pt,
        (F.col("__p") - 1).cast("int").alias("pos"),
        F.md5(
            F.array_join(
                F.transform(
                    F.slice(F.col("__t"), F.col("__p"), w),
                    lambda t: t.cast("string"),
                ),
                " ",
            )
        ).alias("fp"),
    )


def _winnow_arrow(
    toks: DataFrame,
    w: int,
    window: int,
    id_col: str,
    tokens_col: str,
    passthrough: tuple[str, ...],
) -> DataFrame:
    """Arrow/numpy form of the winnow map — same fingerprints, byte for
    byte, computed with BATCH-level vectorization (no per-document
    numpy dispatch, which dominated per-doc cost in the earlier
    per-row-loop form):

    - all documents of an Arrow chunk are concatenated into ONE token
      array; the polynomial gram-hash fold runs as w vectorized passes
      over the whole batch (gram hashes never cross a document boundary
      — a hash is a function of exactly its w tokens);
    - selection is a range-minimum query over the combined key
      ``gram_hash << 31 | position``: the minimum key of a window IS
      its leftmost-minimum position (ties in the hash resolve to the
      smaller position — the array_position first-match rule), and a
      binary-doubling sparse table answers every window of every
      document with ~log2(window) contiguous ``np.minimum`` passes —
      measured 29x over the per-window ``sliding_window_view.argmin``
      this replaced (argmin over a strided 2-D view reduces along the
      slow axis). Boundary-crossing windows are simply never queried,
      documents with <= ``window`` grams are one variable-width RMQ
      each (grouped by level, no per-doc loop), and cross-doc
      duplicate positions cannot exist, so one ``np.unique`` dedups
      and orders the whole batch;
    - fingerprints: one fancy-index gather of the selected (n_sel, w)
      gram matrix, then one ``hashlib.md5`` call per selected gram in
      a Python comprehension over its space-joined decimal tokens (the
      same bytes the Catalyst twin hashes).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    pt = list(passthrough)
    in_cols = [id_col, *pt, tokens_col]
    src = toks.select(*in_cols)
    schema_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != tokens_col
    )
    out_schema = f"{schema_fields}, pos int, fp string"

    def emit(batches):
        offsets = np.arange(w)
        empty = np.empty(0, dtype=np.int64)
        for pdf in batches:
            cells = [np.asarray(c, dtype=np.int64) for c in pdf[tokens_col].tolist()]
            lens = np.fromiter((c.size for c in cells), dtype=np.int64, count=len(cells))
            T = np.concatenate(cells) if cells else empty
            starts = np.zeros(lens.size + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            m_doc = lens - (w - 1)  # grams per doc (<= 0: none)
            m_glob = T.size - (w - 1)
            sel_parts = []
            if m_glob >= 1:
                if m_glob >= 1 << 31:  # key packs position into 31 bits
                    raise ValueError("Arrow batch too large for the winnow kernel")
                acc = np.zeros(m_glob, dtype=np.int64)
                for j in range(w):
                    acc = (acc * BASE + T[j : j + m_glob]) % MOD
                # RMQ sparse table over key = hash<<31 | pos: min key of
                # a range == its leftmost-min position (acc < 2^31, so
                # the pack is order-preserving and tie-breaks on pos)
                key = (acc << 31) | np.arange(m_glob, dtype=np.int64)
                big = np.flatnonzero(m_doc > window)
                small = np.flatnonzero((m_doc >= 1) & (m_doc <= window))
                l_win = (window).bit_length() - 1 if big.size else 0
                l_small = (
                    int(m_doc[small].max()).bit_length() - 1 if small.size else 0
                )
                levels = [key]
                for j in range(1, max(l_win, l_small) + 1):
                    s = 1 << (j - 1)
                    prev = levels[-1]
                    levels.append(np.minimum(prev[: prev.size - s], prev[s:]))
                mask31 = (1 << 31) - 1
                if big.size:
                    sp = levels[l_win]
                    nb = m_doc[big] - (window - 1)  # windows per big doc
                    cum = np.zeros(big.size, dtype=np.int64)
                    np.cumsum(nb[:-1], out=cum[1:])
                    q = np.repeat(starts[big], nb) + (
                        np.arange(int(nb.sum())) - np.repeat(cum, nb)
                    )
                    sel_parts.append(
                        np.minimum(sp[q], sp[q + window - (1 << l_win)]) & mask31
                    )
                if small.size:
                    # one variable-width RMQ per short doc, grouped by level
                    ms, ss = m_doc[small], starts[small]
                    jd = np.floor(np.log2(ms)).astype(np.int64)
                    for j in np.unique(jd):
                        mk = jd == j
                        a = ss[mk]
                        b = a + ms[mk] - (1 << int(j))
                        sel_parts.append(
                            np.minimum(levels[int(j)][a], levels[int(j)][b]) & mask31
                        )
            if sel_parts:
                # positions are globally unique per (doc, offset) and doc
                # segments are ordered, so one unique call dedups AND
                # restores (doc, pos) output order for the whole batch
                sel = np.unique(np.concatenate(sel_parts))
                ridx = np.searchsorted(starts, sel, side="right") - 1
                pos = sel - starts[ridx]
                grams = T[sel[:, None] + offsets]
                fps = [
                    hashlib.md5(" ".join(map(str, g)).encode()).hexdigest()
                    for g in grams.tolist()
                ]
            else:
                pos = ridx = empty
                fps = []
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].iloc[ridx].reset_index(drop=True),
                    **{
                        c: pdf[c].iloc[ridx].reset_index(drop=True) for c in pt
                    },
                    "pos": pd.Series(pos, dtype="int32"),
                    "fp": pd.Series(fps, dtype="object"),
                }
            )

    return src.mapInPandas(emit, schema=out_schema)


def dup_span_groups(
    toks: DataFrame,
    w: int = 8,
    window: int = 25,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Exactly-repeated cross-document token spans: one row per
    fingerprint seen in >= 2 distinct documents, with its document
    count, total occurrence count, and first (min) document id.

    The only shuffle key is ``fp``: `countDistinct` plans Spark's
    standard two-phase aggregation (partial distinct on (fp, doc) then
    the final fp agg), both phases hash-partitioned on the fingerprint
    with map-side partials — no per-entity or per-document exchange."""
    fps = winnow_fingerprints(toks, w, window, id_col, tokens_col)
    return (
        fps.groupBy("fp")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def span_dup_rate(
    toks: DataFrame,
    w: int = 8,
    window: int = 25,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-document duplicated-span exposure: of the document's
    selected fingerprints, the fraction that also occur in at least
    one OTHER document — the score an ExactSubstr-style corpus filter
    thresholds on (drop/trim documents whose content mostly exists
    elsewhere).

    Two exchanges end to end: the fingerprint aggregation that finds
    cross-document fingerprints, and the per-document rollup. The
    join back is on ``fp`` — same key the first aggregation already
    shuffled on, so it co-partitions without a third exchange.
    """
    fps = winnow_fingerprints(toks, w, window, id_col, tokens_col)
    dup_fp = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("fp")
    )
    flagged = fps.join(dup_fp.withColumn("__dup", F.lit(1)), "fp", "left")
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long").alias("n_dup_fp"),
        (
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )
