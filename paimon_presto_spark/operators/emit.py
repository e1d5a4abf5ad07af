"""Training-shard emission — the terminal stage of the LLM-data pipeline.

The upstream rungs curate and order the corpus (dedup → quality filter →
selection → packing); this module turns the survivors into what a trainer
actually consumes: **fixed-length token-id sequences, sharded, written
through the table layer as snapshot-isolated commits, resumable by shard
hash**. The composition is the brief's `dedup → filter → pack → emit`
with emit finally first-class:

1. **Tokenize** (map-side, codegen): whitespace tokens map to a bounded
   vocabulary through the portable md5 hash (``functions/hashing.py``) —
   a stand-in tokenizer whose ids are reproducible across engines, which
   is what lets the DuckDB oracle certify the emitted BYTES, not just
   counts. A real BPE drops in at the same seam (token column in, id
   column out).
2. **Lay out the token stream** (GPT-style packing): per source, each
   document's global token offset is a running sum over DOC rows (one
   row per document — the window input is |docs per source|, never
   tokens), then a map-side ``posexplode`` fans out (position, id) pairs
   and every token's sequence is pure arithmetic: ``seq_id = p DIV L``.
   Documents cross sequence boundaries exactly as in production packing;
   the final partial sequence is dropped.
3. **Assemble sequences**: ONE shuffle keyed (source, seq_id) collects
   each sequence's L ids in position order. Groups are L rows by
   construction, so the shuffle is perfectly balanced at any corpus
   size — no group ever exceeds the context length.
4. **Shard + commit through the catalog**: each sequence hashes to a
   shard (salted md5 — the ``split_assign_hash`` convention, so a
   sequence's shard NEVER changes as the corpus grows), and shard
   groups are appended to a partitioned table-format table in a FIXED
   deterministic order, each commit an atomic snapshot (``tablemeta.py``
   exclusive snapshot create) stamped with a monotone **commit identifier** — Paimon's
   sink resume contract (``commitIdentifier`` in real Paimon snapshots;
   the Flink sink's checkpoint id). A re-run reads the latest committed
   identifier from table METADATA and continues from the next group, so
   resume is exact even for shards that happened to contain zero
   sequences (a data-presence probe could not tell "committed but
   empty" from "never committed"). Each identifier also carries a
   32-bit fingerprint of the emission geometry, so resuming with
   changed parameters raises instead of silently mis-mapping progress. A failed run loses at most one
   commit group, never finished shards — the contract a multi-day
   100 TB emission job needs.

Scale notes: the only driver-side data is the distinct shard list
(``n_shards`` values); token ids never leave the cluster. The per-source
offset window serializes per source, but its input is document COUNTS
(8-byte rows), not tokens — the same per-shard-stream spelling
``pack_sequences_greedy`` documents, and sources are the natural
parallel unit of a corpus (a skewed mega-source can be pre-split by any
stable doc-id range).

Reference surface: the reference engine reads Paimon tables into Presto
(scan-side only); the write path built here (A24) is what produces those
tables. This operator exercises it at LLM-pipeline scale: partitioned
append commits + snapshot isolation + resume-by-metadata
(`PaimonPageSourceProvider` consumes exactly such partitioned appends).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from paimon_presto_spark.functions.hashing import md5_long


def tokenized_sequences(
    docs: DataFrame,
    *,
    doc_id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    seq_len: int = 32,
    vocab: int = 32768,
    n_shards: int = 4,
    shard_salt: str = "shard:",
    eos_id: int | None = None,
    offset_blocks: int | None = None,
    did_range: tuple[int, int] | None = None,
) -> DataFrame:
    """The pure (lazy) emission plan: documents → fixed-length token-id
    sequences with shard assignment.

    Returns ``(source, seq_id, shard, n_tok, ids)`` with ``n_tok ==
    seq_len`` for every row (the trailing partial sequence per source is
    dropped) and ``ids`` the in-order ``array<int>`` of hashed token
    ids. Deterministic for a given input: ids and shard come from
    portable md5, sequence layout from doc-id order.

    ``eos_id`` (production packing's document separator): when set, that
    id is appended after every document's tokens BEFORE the stream is
    cut into sequences, so a trainer can mask attention across document
    boundaries. It changes offsets/contents but no plan shape. The
    separator must live OUTSIDE the hash range — ``eos_id >= vocab`` —
    otherwise roughly 1-in-vocab ordinary words would collide with it
    and split documents mid-sentence (a real tokenizer reserves special
    ids the same way).

    ``offset_blocks`` + ``did_range`` (both or neither): two-pass
    per-source offsets. The single per-source running-total window caps
    the offset stage's parallelism at |sources| — a skewed mega-source
    serializes it (optimization guide §2.5). With ``offset_blocks=B``
    the doc-id span ``did_range=(lo, hi)`` splits into B order-preserving
    blocks: intra-block running sums window over (source, block) — B-way
    parallel — and each block's base comes from a per-source prefix over
    the tiny block-subtotal table (≤ |sources|×B rows, broadcast back).
    Offsets are bit-identical to the single-window path (integer prefix
    sums decompose exactly; blocks follow doc-id order). ``did_range``
    stays a caller-supplied constant so this plan stays LAZY.
    """
    if seq_len <= 0 or vocab <= 0 or n_shards <= 0:
        raise ValueError("seq_len, vocab and n_shards must be positive")
    if (offset_blocks is None) != (did_range is None):
        raise ValueError("offset_blocks and did_range must be set together")
    if eos_id is not None and 0 <= eos_id < vocab:
        raise ValueError(
            f"eos_id must be outside the hash range [0, {vocab}) — a "
            f"separator inside it collides with ~1-in-{vocab} ordinary "
            f"words and creates false document boundaries"
        )
    # hash words -> bounded ids map-side (array lambda in codegen), then
    # optionally terminate each document with the EOS separator
    ids_arr = F.transform(
        F.split(F.col(text_col), " "),
        lambda w: (md5_long(w) % vocab).cast("int"),
    )
    if eos_id is not None:
        ids_arr = F.concat(ids_arr, F.array(F.lit(int(eos_id)).cast("int")))
    per_doc = docs.select(
        F.col(source_col).alias("source"),
        F.col(doc_id_col).alias("__did"),
        ids_arr.alias("__ids"),
    )
    # per-source token offset of each doc: prefix sums over DOC rows (one
    # row per document), never over tokens
    if offset_blocks is None or offset_blocks <= 1:
        woff = (
            Window.partitionBy("source")
            .orderBy("__did")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        off = per_doc.withColumn(
            "__doc_off", F.sum(F.size("__ids")).over(woff) - F.size("__ids")
        )
    else:
        lo, hi = did_range
        bsize = max(1, -(-(int(hi) - int(lo) + 1) // int(offset_blocks)))
        sized = per_doc.withColumn("__m", F.size("__ids")).withColumn(
            "__blk", F.expr(f"(__did - {int(lo)}) DIV {bsize}")
        )
        w_in = (
            Window.partitionBy("source", "__blk")
            .orderBy("__did")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_blk = (
            Window.partitionBy("source")
            .orderBy("__blk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # block bases: per-source prefix over block subtotals — ≤
        # |sources| x offset_blocks 16-byte rows, broadcast back onto the
        # doc rows (the caller sizes offset_blocks to its parallelism, so
        # this table is small by construction). Spark shares no subplans
        # across join sides, so this subtree re-scans the input: count
        # tokens from the raw text (split size — identical to
        # size(__ids) because transform preserves length) instead of
        # re-hashing every token through md5 a second time.
        m_cheap = F.size(F.split(F.col(text_col), " "))
        if eos_id is not None:
            m_cheap = m_cheap + F.lit(1)
        bases = (
            docs.select(
                F.col(source_col).alias("source"),
                F.expr(
                    f"(`{doc_id_col}` - {int(lo)}) DIV {bsize}"
                ).alias("__blk"),
                m_cheap.alias("__m"),
            )
            .groupBy("source", "__blk")
            .agg(F.sum("__m").alias("__bm"))
            .withColumn("__base", F.sum("__bm").over(w_blk) - F.col("__bm"))
            .select("source", "__blk", "__base")
        )
        off = (
            sized.withColumn("__run", F.sum("__m").over(w_in))
            .join(F.broadcast(bases), ["source", "__blk"])
            .withColumn(
                "__doc_off", F.col("__base") + F.col("__run") - F.col("__m")
            )
        )
    # Fragment fan-out: ONE row per (document, sequence) overlap instead
    # of one per token — the (source, seq_id) shuffle moves the same id
    # bytes in ~seq_len-times fewer rows, and each group assembles a
    # handful of fragments instead of seq_len token rows (§2.3 shuffle
    # fewer rows). A document's fragment for sequence s covers global
    # positions [max(off, s*L), min(off+m, (s+1)*L)); concatenating
    # fragments in position order reproduces the token stream exactly.
    L = int(seq_len)

    def _frag(s):
        gstart = F.greatest(s * L, F.col("__doc_off"))
        gend = F.least((s + 1) * L, F.col("__doc_off") + F.size("__ids"))
        return F.struct(
            s.alias("seq_id"),
            (gstart - s * L).alias("pos"),
            F.slice(
                F.col("__ids"),
                (gstart - F.col("__doc_off") + 1).cast("int"),
                (gend - gstart).cast("int"),
            ).alias("ids"),
        )

    frags = F.transform(
        F.sequence(
            F.expr(f"__doc_off DIV {L}"),
            F.expr(f"(__doc_off + size(__ids) - 1) DIV {L}"),
        ),
        _frag,
    )
    frows = off.select("source", F.explode(frags).alias("f")).select(
        "source",
        F.col("f.seq_id").alias("seq_id"),
        F.col("f.pos").alias("__fp"),
        F.col("f.ids").alias("__fids"),
    )
    seqs = (
        frows.groupBy("source", "seq_id")
        .agg(
            F.sum(F.size("__fids")).alias("n_tok"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__fp").alias("i"),
                                                F.col("__fids").alias("t")))
                    ),
                    lambda s: s["t"],
                )
            ).alias("ids"),
        )
        .filter(F.col("n_tok") == seq_len)
        .withColumn("n_tok", F.col("n_tok").cast("int"))
    )
    shard = (
        md5_long(
            F.concat(
                F.lit(shard_salt),
                F.col("source"),
                F.lit(":"),
                F.col("seq_id").cast("string"),
            )
        )
        % n_shards
    ).cast("int")
    return seqs.select("source", "seq_id", shard.alias("shard"), "n_tok", "ids")


def emit_training_shards(
    docs: DataFrame,
    table,
    *,
    doc_id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    seq_len: int = 32,
    vocab: int = 32768,
    n_shards: int = 4,
    shards_per_commit: int = 2,
    max_commits: int | None = None,
    shard_salt: str = "shard:",
    eos_id: int | None = None,
    adopt_legacy: bool = False,
) -> dict:
    """Emit the corpus' training shards into ``table`` (an append-mode
    ``Table`` partitioned by ``shard`` that this emitter OWNS, like a
    sink owns its topic), snapshot-committed and **resumable**: shards
    are appended in a fixed deterministic order in groups of
    ``shards_per_commit``, each group one atomic snapshot commit stamped
    with commit identifier ``group_index + 1`` (Paimon's sink
    idempotence handle). On entry the latest committed identifier is
    read back from snapshot metadata and emission continues from the
    next group — exact resume even through shards with zero sequences.
    ``max_commits`` bounds how many commit groups THIS call performs —
    ``None`` finishes the job; a bounded call emulates (and tests) an
    interrupted run that a later call resumes.

    Returns ``{"shards_written", "shards_skipped", "n_commits"}`` — the
    only driver-side values; token data never leaves the cluster.

    The emission GEOMETRY (seq_len, vocab, n_shards, shards_per_commit,
    shard_salt) is part of the resume contract: the commit identifier
    packs the group index with a 32-bit fingerprint of the geometry, and
    a resume whose parameters differ from what was committed raises
    instead of silently skipping or double-emitting shards (counting
    groups under a CHANGED geometry would mis-map the progress point —
    e.g. a finer shards_per_commit on resume would treat the job as
    finished with shards never written).

    Tables emitted by the pre-column-fingerprint writer (whose chain
    never recorded the input columns) resume only with
    ``adopt_legacy=True`` — the caller's explicit assertion that the
    legacy emit packed the default doc_id/source/text columns; without
    it the resume fails closed (see the legacy-compat block below).
    """
    from pyspark import StorageLevel

    if shards_per_commit < 1:
        raise ValueError(f"shards_per_commit must be >= 1, got {shards_per_commit}")
    if max_commits is not None and max_commits < 0:
        raise ValueError(f"max_commits must be >= 0, got {max_commits}")

    all_groups = [
        list(range(i, min(i + shards_per_commit, n_shards)))
        for i in range(0, n_shards, shards_per_commit)
    ]
    cols = (doc_id_col, source_col, text_col)
    fp = _geometry_fingerprint(
        seq_len, vocab, n_shards, shards_per_commit, shard_salt, eos_id,
        cols,
    )
    # ONE metadata walk serves both the legacy-adoption check and the
    # resume point (each table.snapshot(sid) is a file read).
    chain = [
        s.commit_identifier
        for sid in table.snapshot_ids()
        if (s := table.snapshot(sid)) is not None
        and s.commit_kind == "APPEND"
    ]
    # Legacy compat: tables emitted before the fingerprint learned the
    # input column names carry the col-less key. Adopt it — validation
    # and new commits alike — ONLY when (a) the whole existing APPEND
    # chain was committed under it, (b) this resume uses the DEFAULT
    # column triple, and (c) the caller passed ``adopt_legacy=True``. A
    # custom-col resume against a col-less chain is UNVERIFIABLE (the
    # old writer never recorded which columns it packed) and fails
    # closed below. The default-col direction is equally unverifiable —
    # the legacy key cannot prove the old writer used the default
    # columns either — which is exactly why adoption is an explicit
    # opt-in (round 9 warned and proceeded; round 11 closes the
    # residual): the flag is the caller's recorded assertion that the
    # legacy emit packed doc_id/source/text, and without it the resume
    # refuses instead of risking shards that silently mix content
    # packed from different columns.
    fp_legacy = _geometry_fingerprint(
        seq_len, vocab, n_shards, shards_per_commit, shard_salt, eos_id,
        None,
    )
    legacy_chain = bool(chain) and all(
        (c & 0xFFFFFFFF) == fp_legacy for c in chain
    )
    if fp_legacy != fp and legacy_chain and cols == ("doc_id", "source", "text"):
        if not adopt_legacy:
            raise ValueError(
                "emit_training_shards: this table was emitted by a "
                "pre-column-fingerprint writer, whose chain does not "
                "record which input columns it packed — resuming would "
                "ASSUME the original emit used the default "
                "doc_id/source/text columns, and emitted shards would "
                "silently mix content if it did not. Pass "
                "adopt_legacy=True to assert the legacy emit used the "
                "default columns (the chain is then re-stamped under "
                "the legacy key), or emit into a fresh table."
            )
        fp = fp_legacy
    # resume point: max APPEND commit identifier across the snapshot
    # chain (metadata-only; COMPACT/auto-compaction snapshots carry the
    # default identifier but a different kind, so they never count).
    # identifier = group_index << 32 | geometry fingerprint — monotone
    # within one geometry, and a geometry change is detected, not guessed.
    done = 0
    for ident in chain:
        if (ident & 0xFFFFFFFF) != fp:
            if legacy_chain and fp != fp_legacy:
                # not a geometry mismatch: the chain predates the
                # column-aware fingerprint and this resume uses custom
                # columns, which the old writer never recorded — there
                # is nothing to validate against, so say THAT instead of
                # sending the caller in circles over parameters that are
                # already correct.
                raise ValueError(
                    "emit_training_shards: this table was emitted by a "
                    "pre-column-fingerprint writer, which did not record "
                    "the input columns; a resume with non-default "
                    "doc_id/source/text columns cannot be validated "
                    "against it. Emit into a fresh table (or resume with "
                    "the default column names if those are what the "
                    "original emit actually used)."
                )
            raise ValueError(
                "emit_training_shards: table was emitted with a different "
                "geometry (seq_len/vocab/n_shards/shards_per_commit/"
                "shard_salt/eos_id/input columns); resume with the "
                "original parameters or emit into a fresh table"
            )
        done = max(done, ident >> 32)
    done = min(done, len(all_groups))
    groups = all_groups[done:]
    if max_commits is not None:
        groups = groups[:max_commits]
    skipped = sum(len(g) for g in all_groups[:done])
    if not groups:
        return {"shards_written": 0, "shards_skipped": skipped, "n_commits": 0}
    # Two-pass per-source offsets (see tokenized_sequences): one tiny
    # doc-id bounds aggregation (metadata-answerable for a raw parquet
    # scan with aggregate pushdown) buys an offset stage whose
    # parallelism scales with the corpus instead of capping at
    # |sources|. Computed only when there is something to emit — a
    # no-op resume stays metadata-only.
    spark = docs.sparkSession
    bounds = docs.agg(
        F.min(doc_id_col).alias("lo"), F.max(doc_id_col).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        blocks, did_range = None, None  # empty corpus: single-window path
    else:
        blocks = spark.sparkContext.defaultParallelism * 4
        did_range = (int(bounds["lo"]), int(bounds["hi"]))
    seqs = tokenized_sequences(
        docs,
        doc_id_col=doc_id_col,
        source_col=source_col,
        text_col=text_col,
        seq_len=seq_len,
        vocab=vocab,
        n_shards=n_shards,
        shard_salt=shard_salt,
        eos_id=eos_id,
        offset_blocks=blocks,
        did_range=did_range,
    )
    # one persisted plan feeds every commit group; appends are eager, so
    # the unpersist below can never un-answer anything. A single-group
    # call (e.g. a budget-capped run or the last resume step) skips the
    # persist: nothing would be re-read, and the unpersisted plan keeps
    # full AQE on the write — output files sized by measured bytes
    # instead of one file per cached partition (guide §6 small files).
    if len(groups) > 1:
        seqs = seqs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        written = 0
        for k, g in enumerate(groups):
            table.append(
                seqs.filter(F.col("shard").isin([int(s) for s in g])),
                commit_identifier=((done + k + 1) << 32) | fp,
            )
            written += len(g)
    finally:
        if len(groups) > 1:
            seqs.unpersist(False)
    return {
        "shards_written": written,
        "shards_skipped": skipped,
        "n_commits": len(groups),
    }


def _geometry_fingerprint(
    seq_len: int, vocab: int, n_shards: int, shards_per_commit: int,
    salt: str, eos_id: int | None, cols: tuple[str, str, str] | None,
) -> int:
    """32-bit stable fingerprint of the emission geometry, packed into
    the low half of every emit commit identifier. Every parameter that
    changes sequence CONTENTS or the shard map belongs here — eos_id
    and the INPUT COLUMN names included: a resume with a different
    separator, or packing from a different text/source/id column, would
    silently append sequences that don't match the committed ones.
    ``cols=None`` reproduces the pre-round-9 col-less key, accepted for
    tables whose whole existing chain was committed under it (see the
    legacy-compat branch in ``emit_training_shards``)."""
    import zlib

    key = f"{seq_len}|{vocab}|{n_shards}|{shards_per_commit}|{salt}|{eos_id}"
    if cols is not None:
        key += f"|{'|'.join(cols)}"
    return zlib.crc32(key.encode()) & 0xFFFFFFFF
