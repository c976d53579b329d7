"""Token-array operators for training-data pipelines.

The north-rule payload is pre-tokenized sequences (``tokens:
array<int32>``); these are the array-level operators a 100 TB pipeline
runs between enrichment and training: packing variable-length documents
into fixed-length chunks, truncation/padding, and token stats. No
reference counterpart (the reference is tabular-only) — first-class per
the task brief's training-data-pipeline mandate.

All operators are native expressions or single explode+agg passes; the
deterministic total order comes from the distributed
``global_running_sum`` (pipeline/record_ids.py), so there is no
single-partition stage at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def truncate_pad_tokens(
    tokens, max_len: int, pad_id: int = 0
) -> F.Column:
    """Fixed-length token rows: truncate to ``max_len`` or right-pad with
    ``pad_id`` — pure native array expression (slice + concat + repeat)."""
    t = tokens if not isinstance(tokens, str) else F.col(tokens)
    cut = F.slice(t, 1, max_len)
    pad_n = F.greatest(F.lit(0), F.lit(max_len) - F.size(t))
    pad = F.array_repeat(F.lit(pad_id).cast("int"), pad_n.cast("int"))
    return F.concat(cut, pad)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_len: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard pretraining
    layout): documents are laid end-to-end along the deterministic total
    order (``id_col`` asc) and the concatenated token stream is cut into
    fixed ``max_len`` chunks — zero padding waste except the final chunk.

    Returns one row per chunk: (chunk_id, n_tokens, n_docs, first_doc,
    last_doc, tokens). Deterministic on any cluster size: document
    offsets come from the distributed running sum (range-partition +
    per-partition totals + broadcast prefix offsets — no
    ``Exchange SinglePartition``); chunk assembly shuffles one
    array-slice row per (doc, chunk) intersection on chunk_id — the
    token bytes cross the exchange exactly once, in ~max_len-sized
    vector payloads rather than per-token rows.

    Greedy first-fit bin packing (no cross-document splits) is the other
    classical layout; concat-and-chunk is chosen because it is
    order-deterministic, engine-portable (SQL-replayable — see the
    pack_sequences oracle), and what GPT-style pipelines actually do.

    ``group_cols`` packs WITHIN each group (per-source shards — documents
    never cross a group boundary; chunk ids restart per group): offsets
    then come from a per-group window cumsum, distributed across groups
    (each group is one window partition — use coarse groups like
    'source', not high-cardinality keys).
    """
    from pyspark.sql.window import Window

    from upgini_spark.pipeline.record_ids import global_running_sum

    groups = list(group_cols or [])
    d = df.select(
        *groups,
        F.col(id_col).alias("__pid__"),
        F.col(tokens_col).alias("__ptok__"),
        F.size(tokens_col).cast("long").alias("__pnt__"),
    )
    if groups:
        w = (
            Window.partitionBy(*groups)
            .orderBy(F.col("__pid__").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        d = d.withColumn("__pend__", F.sum("__pnt__").over(w))
    else:
        # materialize the tokenized projection ONCE (eager localCheckpoint,
        # not persist — no CacheManager leak): the offsets branch and the
        # array join-back are two consumers of the same frame, and the
        # running sum adds a range-sampling job — without the checkpoint
        # the upstream (typically a tokenizer expression over a text scan,
        # plus any spread shuffle) re-executes once PER CONSUMER (measured
        # 3.8 s -> 0.8 s at a 6M-token corpus; differing column prunings
        # also defeat ReuseExchange here, the ts_features lesson). The
        # write is one linear pass over the payload — strictly cheaper
        # than the 3 upstream re-executions it replaces at any scale.
        d = d.localCheckpoint(eager=True)
        # offsets on the NARROW (id, count) projection — the running
        # sum's consistency checkpoint then materializes ~16 bytes/doc
        # instead of the full token arrays (measured: the wide variant's
        # checkpoint was a fixed serial floor that capped 2→8-core
        # scaling at 0.47); the arrays join back on id, one shuffle each
        # side, and are only ever shuffled twice total (join + chunk agg)
        offs = global_running_sum(
            d.select("__pid__", "__pnt__"),
            [F.col("__pid__").asc()], "__pnt__", "__pend__",
        ).select("__pid__", "__pend__")
        d = d.join(offs, "__pid__")
    # Chunk assembly shuffles ONE ROW PER (doc, chunk) INTERSECTION, not
    # one row per token (guide §2.3 "shuffle keys and metadata instead of
    # payloads"): each document's array is cut row-locally into the
    # chunk-aligned slices it spans (explode of ~n/max_len chunk ids per
    # doc + F.slice — same bytes, ~max_len× fewer shuffle rows), the
    # group-by-chunk stitches the slices back in offset order, and
    # flatten() restores the exact concat-and-chunk stream. Equivalences
    # vs the per-token explode (pinned by tests + the frozen oracle):
    # pieces of one chunk are disjoint intervals, so sorting structs by
    # piece start == sorting tokens by absolute position; every doc with
    # ≥1 token in a chunk contributes exactly one piece, so count(1) ==
    # the old array_distinct(doc ids) and min/max ids are unchanged;
    # docs with 0 tokens produce no pieces (posexplode produced no rows).
    # Chunk ids keep the original double-division-then-cast form so the
    # math is bit-identical to the exploded version at any magnitude.
    L = F.lit(max_len)
    off = (F.col("__pend__").cast("long") - F.col("__pnt__")).alias("__poff__")
    pieces = (
        d.filter(F.col("__pnt__") > 0)
        .select(*groups, "__pid__", "__ptok__", off, "__pend__")
        .select(
            *groups,
            "__pid__",
            "__ptok__",
            "__poff__",
            "__pend__",
            F.explode(
                F.sequence(
                    (F.col("__poff__") / L).cast("long"),
                    ((F.col("__pend__") - 1) / L).cast("long"),
                )
            ).alias("chunk_id"),
        )
        .withColumn(
            "__pstart__", F.greatest(F.col("chunk_id") * L, F.col("__poff__"))
        )
        .withColumn(
            "__pend2__", F.least((F.col("chunk_id") + 1) * L, F.col("__pend__"))
        )
        .select(
            *groups,
            "chunk_id",
            "__pid__",
            (F.col("__pstart__") - F.col("chunk_id") * L)
            .cast("int")
            .alias("__cpos__"),
            F.slice(
                "__ptok__",
                (F.col("__pstart__") - F.col("__poff__") + 1).cast("int"),
                (F.col("__pend2__") - F.col("__pstart__")).cast("int"),
            ).alias("__piece__"),
        )
    )
    agged = pieces.groupBy(*groups, "chunk_id").agg(
        F.sum(F.size("__piece__")).cast("int").alias("n_tokens"),
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.min("__pid__").alias("first_doc"),
        F.max("__pid__").alias("last_doc"),
        F.array_sort(
            F.collect_list(F.struct("__cpos__", "__piece__"))
        ).alias("__sp__"),
    )
    return agged.select(
        *groups,
        "chunk_id",
        "n_tokens",
        "n_docs",
        "first_doc",
        "last_doc",
        F.flatten(
            F.transform(F.col("__sp__"), lambda s: s["__piece__"])
        ).alias("tokens"),
    )


# --------------------------------------------------------------------------
# Vocabulary build + word-id encoding (the tokenizer front of the pipeline)
# --------------------------------------------------------------------------


def build_word_vocab(
    df: DataFrame, text_col: str, k: int, min_count: int = 1
) -> DataFrame:
    """Frequency vocabulary over whitespace words: the top-``k`` words by
    (count DESC, word ASC — a total order, so the vocabulary is
    partition- and engine-deterministic) get ids 1..k; id 0 is reserved
    for OOV at encode time. Returns (word, token_id, cnt).

    Scale shape: one map-side-combinable word-count agg, then
    ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject (per-
    partition heaps + a k-row merge), never a global sort. The final
    row_number ranks the ALREADY-REDUCED k-row frame: its single
    partition holds k rows by construction (k = vocabulary size, 10^4-ish
    even at 100 TB), not corpus rows."""
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    return top.select(
        "word", F.row_number().over(w).cast("int").alias("token_id"), "cnt"
    )


def encode_words(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame
) -> DataFrame:
    """Encode text into vocabulary ids (OOV → 0), preserving word order.
    Returns (id, token_ids:array<int>, n_tok, n_oov).

    The vocabulary collapses to a ONE-ROW MAP column (map_from_entries
    over its k entries) that rides a broadcast 1-row join; each document
    encodes row-locally via ``transform(words, w ->
    try_element_at(map, w))`` — zero per-word rows, zero re-collect
    shuffle (the previous posexplode + broadcast-join + groupBy form
    shipped every word through an exchange to reassemble arrays that
    were never taken apart logically). The map is DATA, not a literal
    expression tree, so plan compile time is flat in k (the r4
    1024-node when-chain lesson). Word order is trivially preserved
    (transform is positional); NULL texts yield an empty array exactly
    like the exploded form did (its collect_list dropped the NULL
    placeholder row)."""
    vmap = vocab.select("word", "token_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", F.col("token_id").cast("int")))
        ).alias("__vmap__")
    )
    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )
    token_ids = F.coalesce(
        F.transform(
            words,
            lambda w: F.coalesce(
                F.try_element_at("__vmap__", w), F.lit(0)
            ).cast("int"),
        ),
        F.array().cast("array<int>"),
    )
    # stage token_ids as a column BEFORE deriving the sizes: transform()
    # is an interpreted higher-order expression, so repeated references
    # in one projection would re-encode the document (the r4 lesson)
    staged = df.crossJoin(F.broadcast(vmap)).select(
        F.col(id_col), token_ids.alias("token_ids")
    )
    return staged.select(
        id_col,
        "token_ids",
        F.size("token_ids").cast("int").alias("n_tok"),
        F.size(
            F.filter(F.col("token_ids"), lambda t: t == 0)
        ).cast("int").alias("n_oov"),
    )


def chunk_tokens_sliding(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    window: int,
    stride: int,
) -> DataFrame:
    """Per-document sliding-window chunking with overlap — the
    long-document op of embedding/eval pipelines (each doc becomes
    ⌈n/stride⌉ windows of ``window`` tokens starting at 0, stride,
    2·stride, …; stride < window overlaps, stride = window tiles).
    Complements :func:`pack_sequences` (which CONCATENATES docs — here a
    chunk never mixes documents and every token is covered).

    Returns one row per chunk: (id, chunk_idx, chunk:array<int>,
    n_chunk_tokens). The final window may be short (kept — dropping it
    would lose tail tokens); empty docs yield no rows.

    Scale shape: a pure per-row explode of ``sequence()`` starts +
    ``slice()`` — narrow, no shuffle, no state; the ~window/stride
    duplication factor is the honest cost of overlap and is capped by
    construction."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    t = F.col(tokens_col)
    n = F.size(t)
    # starts 0..last, last = floor((n-1)/stride); guard n=0 docs
    starts = F.sequence(
        F.lit(0), F.floor((n - F.lit(1)) / F.lit(stride)).cast("int")
    )
    out = df.filter(n > 0).select(
        F.col(id_col),
        F.explode(starts).alias("chunk_idx"),
        t.alias("__toks__"),
    )
    chunk = F.slice(
        F.col("__toks__"), F.col("chunk_idx") * stride + 1, window
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
    )


def mask_tokens(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    mask_id: int = -1,
    rate: float = 0.15,
    salt: str = "",
) -> DataFrame:
    """Deterministic MLM-style token masking — the corruption step of a
    masked-LM / span-corruption pretraining pipeline, made seed-free:
    position ``p`` of document ``d`` is masked iff the md5-uniform of
    (d, p, salt) < ``rate`` (same 60-bit hash-uniform construction as
    sampling.hash_uniform, so the SAME positions mask on any cluster
    size, any engine, and ``salt`` derives independent corruption
    epochs). Returns (id, masked:array<int>, labels:array<int>,
    n_masked): ``labels`` keeps the original id at masked positions and
    ``mask_id`` elsewhere (the loss-target convention), so
    ``masked[i] == mask_id  XOR  labels[i] == mask_id`` except that a
    document with zero masked positions keeps all-``mask_id`` labels.

    Pure per-row array transform (the two-arg ``F.transform`` lambda's
    index IS the position — used deliberately, see CLAUDE.md's trap
    note), no shuffle, no RNG state."""
    t = F.col(tokens_col)

    def u(i):
        h = F.md5(
            F.concat_ws(
                "\x1f",
                F.col(id_col).cast("string"),
                i.cast("string"),
                F.lit(salt),
            )
        )
        return (
            F.conv(F.substring(h, 1, 15), 16, 10).cast("double")
            / F.lit(float(1 << 60))
        )

    hit = lambda tok, i: u(i) < F.lit(float(rate))  # noqa: E731
    masked = F.transform(
        t, lambda tok, i: F.when(hit(tok, i), F.lit(mask_id)).otherwise(tok)
    )
    labels = F.transform(
        t, lambda tok, i: F.when(hit(tok, i), tok).otherwise(F.lit(mask_id))
    )
    return df.select(
        id_col,
        masked.cast("array<int>").alias("masked"),
        labels.cast("array<int>").alias("labels"),
        F.size(
            F.filter(labels, lambda x: x != mask_id)
        ).cast("int").alias("n_masked"),
    )
