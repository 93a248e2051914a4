"""Streaming corpus ingestion: the end-to-end training-data front door.

Composes the engine's pieces into the pipeline a 100 TB corpus build runs
continuously: landing files stream in (Structured Streaming,
``Trigger.AvailableNow`` per bounded run), each micro-batch passes a
quality gate, dedups within itself, dedups against the STANDING corpus,
and the survivors append to a ManifestTable with idempotent per-batch
commits.

The scale-critical design decision is the **fingerprint table**: the
standing corpus is never re-scanned for dedup.  Instead a second
ManifestTable holds one row per accepted content hash and per accepted
LSH band hash — hash-sized, not document-sized — and each micro-batch
semi-joins its own fingerprints against it.  A daily increment therefore
costs O(increment + matching fingerprints), independent of corpus size;
the documents table is only ever appended.

Crash/replay contract (the reference's exactly-once slot semantics,
sources/pg_replication/__init__.py:77-80, applied to a two-table sink):

- docs commit FIRST, fingerprints second, both carrying the same
  (stream_id, batch_id) in their atomic manifest commits;
- each table skips a batch id it has already committed, so a crash
  between the two commits replays into "skip docs, redo fingerprints";
- the accepted set is recomputed deterministically on replay: it depends
  only on the batch content and the FINGERPRINT table state, which is
  unchanged until the fingerprint commit lands — so the redone
  fingerprint append describes exactly the docs that were committed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.streaming import StreamingQuery

from verified_sources_spark.cut import cut

from verified_sources_spark.functions.text import quality_score
from verified_sources_spark.llm.corpus import band_table
from verified_sources_spark.operators.table_format import ManifestTable


class TwoTableIngest:
    """Generic micro-batch two-table ingestion: the idempotent
    (payload-table, fingerprint-table) commit protocol, independent of
    WHAT is fingerprinted.  Subclasses supply ``accepted(batch_df)``
    (the rows that survive dedup against batch + standing state —
    deterministic in (batch content, fingerprint-table state)) and
    ``_fingerprints(df)`` ((id, kind, fp) rows for an accepted set).
    ``CorpusIngest`` instantiates it for text (md5 + LSH band hashes);
    ``streaming/media_ingest.MediaIngest`` for binary media (sha256 +
    banded perceptual hashes).  The crash/replay contract is the module
    docstring's."""

    def __init__(self, docs_table: ManifestTable, fp_table: ManifestTable,
                 id_col: str, stream_id: str):
        self.docs_table = docs_table
        self.fp_table = fp_table
        self.id_col = id_col
        self.stream_id = stream_id

    def accepted(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _fingerprints(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    # internal columns stamped on every appended doc row so a replay can
    # recover EXACTLY which rows a (stream, batch) commit accepted
    _STREAM_COL, _BATCH_COL = "_ingest_stream", "_ingest_batch"

    def _input_token(self, batch_df: DataFrame) -> str:
        """Order-independent digest of the INPUT batch (count + xor + sum of
        row hashes, sum wrapping mod 2^64).  Committed alongside the batch id
        so a same-id delivery can be classified: equal token ⇒ genuine replay,
        different token ⇒ the checkpoint dir was recreated and ids restarted.

        XOR alone is multiset-weak (rows {A,A,A,B} and {A,B,B,B} share count
        and XOR); the wrapping sum changes with multiplicity, so the pair
        (xor, sum) distinguishes those batches."""
        h = F.xxhash64(*[F.col(c).cast("string") for c in batch_df.columns])
        row = batch_df.select(h.alias("h")).agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(h)").alias("x"),
            # sum over bigint wraps on overflow only with ANSI off; sum the
            # two 32-bit halves separately instead so the digest is exact
            # arithmetic regardless of spark.sql.ansi.enabled.
            F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        ).first()
        s = (((row["hi"] or 0) << 32) + (row["lo"] or 0)) & 0xFFFFFFFFFFFFFFFF
        return (
            f"{row['n']}:{(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}:{s:016x}"
        )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Idempotent two-commit apply — see module docstring for the
        crash/replay contract."""
        docs_last = self.docs_table.last_batch_id(self.stream_id)
        fp_last = self.fp_table.last_batch_id(self.stream_id)
        if docs_last is not None and fp_last is not None and batch_id <= min(docs_last, fp_last):
            if batch_id < min(docs_last, fp_last):
                # Structured Streaming only ever re-delivers the LAST
                # in-flight batch under the same checkpoint; a batch id
                # below the fully-committed high-water mark means the
                # checkpoint dir was recreated (ids restart at 0) while
                # stream_id and tables were reused — silently skipping
                # would drop every new batch until ids catch up.
                raise ValueError(
                    f"batch_id {batch_id} regressed below committed "
                    f"high-water mark {min(docs_last, fp_last)} for "
                    f"stream_id={self.stream_id!r}: a new checkpointLocation "
                    "requires a new stream_id (see run() docstring)"
                )
            # batch_id EQUALS the high-water mark: either the genuine
            # last-batch replay (same data — skip) or a recreated
            # checkpoint whose ids restarted exactly at the mark (new
            # data — raising is the only safe move).  The committed input
            # token disambiguates; without one (legacy commit) assume
            # replay, as before.
            committed_tok = self.docs_table.last_batch_token(self.stream_id)
            fresh_tok = None if committed_tok is None else self._input_token(batch_df)
            if committed_tok is not None and committed_tok.count(":") == 1:
                # token committed before the sum field existed — compare on
                # the fields it has (count:xor) rather than spuriously raising
                fresh_tok = fresh_tok.rsplit(":", 1)[0]
            if committed_tok is not None and fresh_tok != committed_tok:
                raise ValueError(
                    f"batch_id {batch_id} equals the committed high-water "
                    f"mark for stream_id={self.stream_id!r} but carries "
                    "DIFFERENT input rows: the checkpoint dir was recreated "
                    "— a new checkpointLocation requires a new stream_id "
                    "(see run() docstring)"
                )
            return  # fully committed already (idempotent last-batch replay)
        # Materialize the BATCH once (r16, guide §2.4 remove recompute):
        # the input token, the accepted-set plan (whose DAG forks re-read
        # the batch — in-batch dedup vs exact-dup branches cannot share a
        # subtree) and the fingerprint append otherwise each re-execute
        # the batch's source chain; with a Python mint/decode source
        # that was 3-4 full Python passes per batch.  A micro-batch is
        # bounded by definition, so holding its bytes in MEMORY_AND_DISK
        # for the duration of one apply is the intended working set.
        batch_df = batch_df.transform(cut, eager=True)
        token = self._input_token(batch_df)
        if docs_last is None or batch_id > docs_last:
            # Materialize ONCE: both commits below must describe the same
            # accepted set; without the checkpoint each sink write would
            # recompute the dedup joins.
            acc_src = self.accepted(batch_df)
            acc = acc_src.transform(cut, eager=True)
            tagged = acc.withColumn(self._STREAM_COL, F.lit(self.stream_id)).withColumn(
                self._BATCH_COL, F.lit(int(batch_id))
            )
            self.docs_table.append(tagged, stream=(self.stream_id, batch_id, token))
            fp_src = acc
            # accepted() may attach the (id, kind, fp) rows it already
            # computed for the in-batch survivors (a superset of the
            # accepted set) as `_fp_cut` — reusing it saves re-deriving
            # every fingerprint (for media: re-DECODING every accepted
            # asset) in the fp append below.
            fp_cut = getattr(acc_src, "_fp_cut", None)
        else:
            # docs committed, fingerprints missing (crash between the two
            # commits): recover the accepted set from the DOCS TABLE's own
            # rows for this (stream, batch) — recomputing accepted() here
            # would be wrong if ANOTHER stream sharing these tables
            # committed fingerprints since the docs commit (the batch
            # would re-dedup against state it was not accepted under).
            committed = self.docs_table.read()
            if self._BATCH_COL in committed.columns:
                fp_src = committed.filter(
                    (F.col(self._STREAM_COL) == self.stream_id)
                    & (F.col(self._BATCH_COL) == int(batch_id))
                ).drop(self._STREAM_COL, self._BATCH_COL)
            else:  # pre-tagging table (legacy): fall back to recompute
                fp_src = self.accepted(batch_df)
            fp_cut = None  # recovery path: the cut (if any) described a
            #                fresh accepted() run, not the committed set
        if fp_last is None or batch_id > fp_last:
            if fp_cut is not None:
                # identical rows by construction: the cut holds the same
                # deterministic (id, kind, fp) rows for a superset of
                # fp_src's ids; the semi-join restricts it exactly
                fp_df = fp_cut.join(
                    fp_src.select(self.id_col), self.id_col, "left_semi"
                )
            else:
                fp_df = self._fingerprints(fp_src)
            self.fp_table.append(fp_df, stream=(self.stream_id, batch_id, token))

    def run(self, stream_df: DataFrame, checkpoint_dir: str) -> StreamingQuery:
        """One bounded AvailableNow pass of the landing stream.

        ``checkpoint_dir`` and ``stream_id`` are a PAIR: batch ids are
        assigned by the checkpoint and committed under the stream_id, so a
        fresh checkpoint dir restarts ids at 0 and MUST come with a fresh
        stream_id when the tables are reused — ``apply_batch`` raises on
        the id regression instead of silently skipping.
        """
        q = (
            stream_df.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q


class CorpusIngest(TwoTableIngest):
    """Micro-batch corpus ingestion into (documents, fingerprints) tables.

    ``docs_table`` holds accepted documents; ``fp_table`` holds their
    fingerprints as (kind, fp) rows — kind 'md5' for exact content hashes,
    'band{i}' for LSH band hashes.  Near-dedup is candidate-level by
    default (any band collision with the standing corpus rejects the
    doc); set ``min_jaccard`` to verify collisions with an exact
    shingle-set Jaccard against the standing docs table — the standing
    texts are fetched by candidate id only (semi-joined, stats-prunable
    read), so verification costs O(colliding pairs), not O(corpus).
    Pass ``near_dedup=False`` for exact-only ingestion.

    ``stream_id`` scopes batch-id idempotency: use ONE id per logical
    stream (a bootstrap load and a landing stream sharing the tables need
    different ids, or the landing stream's batch 0 is mistaken for a
    bootstrap replay).
    """

    def __init__(
        self,
        docs_table: ManifestTable,
        fp_table: ManifestTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        quality_min: float = 0.0,
        near_dedup: bool = True,
        stream_id: str = "corpus-ingest",
        k: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
        min_jaccard: float | None = None,
    ):
        super().__init__(docs_table, fp_table, id_col, stream_id)
        self.text_col = text_col
        self.quality_min = quality_min
        self.near_dedup = near_dedup
        self.k, self.bands, self.shingle_n = k, bands, shingle_n
        self.min_jaccard = min_jaccard

    # ------------------------------------------------------------ fingerprints
    def _fingerprints(self, df: DataFrame) -> DataFrame:
        """(id, kind, fp) fingerprint rows for a document set."""
        md5s = df.select(
            F.col(self.id_col),
            F.lit("md5").alias("kind"),
            F.md5(F.col(self.text_col)).alias("fp"),
        )
        if not self.near_dedup:
            return md5s
        bands = band_table(
            df, self.id_col, self.text_col, k=self.k, bands=self.bands, shingle_n=self.shingle_n
        ).select(
            F.col(self.id_col),
            F.concat(F.lit("band"), F.col("band_idx").cast("string")).alias("kind"),
            F.col("band_hash").alias("fp"),
        )
        return md5s.unionByName(bands)

    def _in_batch_near_dup_ids(self, in_batch: DataFrame, batch_fps: DataFrame) -> DataFrame:
        """Ids of batch docs that band-collide with a LOWER-id batch doc.

        Same candidate-level semantics as the standing-corpus check: a
        collision with a lower id drops the doc whether or not that lower
        doc itself survives (pessimistic, single-pass — no chain
        resolution, mirroring the fingerprint-table reject rule).  With
        ``min_jaccard`` set, collisions are verified with the exact
        shingle-set Jaccard before dropping (both texts are in-batch).
        """
        bands = batch_fps.filter(F.col("kind") != "md5")
        lo = bands.select(F.col(self.id_col).alias("_ex"), "kind", "fp")
        hi = bands.select(F.col(self.id_col).alias("_inc"), "kind", "fp")
        cand = (
            lo.join(hi, ["kind", "fp"])
            .filter(F.col("_ex") < F.col("_inc"))
            .select("_inc", "_ex")
            .distinct()
        )
        if self.min_jaccard is None:
            return cand.select(F.col("_inc").alias(self.id_col)).distinct()
        from verified_sources_spark.llm.corpus import verified_near_inc_ids

        return verified_near_inc_ids(
            cand, in_batch, in_batch, self.id_col, self.text_col,
            self.shingle_n, self.min_jaccard,
        )

    # ---------------------------------------------------------------- batching
    def accepted(self, batch_df: DataFrame) -> DataFrame:
        """The batch rows that survive quality gate + in-batch dedup
        (exact AND, when ``near_dedup``, band-level near) + standing-corpus
        dedup.  Deterministic in (batch content, current fingerprint-table
        state)."""
        gated = batch_df.filter(
            quality_score(F.col(self.text_col)) >= F.lit(self.quality_min)
        )
        # in-batch exact dedup: keep the lowest id per content hash
        w_key = F.md5(F.col(self.text_col))
        in_batch = (
            gated.withColumn("_h", w_key)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_h").orderBy(F.col(self.id_col).asc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_h", "_rn")
        )
        # One signature pass for the whole apply (r16, guide §2.4): the
        # batch fingerprints feed the in-batch near check, the standing
        # checks below AND (via the `_fp_cut` contract with apply_batch)
        # the fp-table append — without the checkpoint each of those DAG
        # forks re-ran tokenize+shingle+md5+minhash over the batch.
        batch_fps = self._fingerprints(in_batch).transform(cut)
        if self.near_dedup:
            # in-batch NEAR dedup (band self-collision, lowest id wins) —
            # without this, near-dups arriving in the same micro-batch all
            # pass the standing-corpus check (which only sees prior
            # batches) and are committed together.
            near_ids = self._in_batch_near_dup_ids(in_batch, batch_fps)
            in_batch = in_batch.join(near_ids, self.id_col, "left_anti")
            batch_fps = batch_fps.join(near_ids, self.id_col, "left_anti")

        def _with_cut(out: DataFrame) -> DataFrame:
            out._fp_cut = batch_fps  # survivors' (id, kind, fp) rows
            return out

        if not self.fp_table.exists():
            return _with_cut(in_batch)
        standing_rows = self.fp_table.read()
        if self.min_jaccard is None or not self.near_dedup:
            standing = standing_rows.select("kind", "fp").distinct()
            dup_ids = (
                batch_fps.join(standing, ["kind", "fp"], "left_semi")
                .select(self.id_col)
                .distinct()
            )
            return _with_cut(in_batch.join(dup_ids, self.id_col, "left_anti"))

        # verified mode: exact hashes always reject; band collisions are
        # candidates whose STANDING texts are fetched from the docs table
        # (by candidate id only — a semi-joined, stats-prunable read) and
        # confirmed with an exact shingle-set Jaccard (shared helper).
        from verified_sources_spark.llm.corpus import verified_near_inc_ids

        exact_standing = (
            standing_rows.filter(F.col("kind") == "md5").select("kind", "fp").distinct()
        )
        exact_dups = (
            batch_fps.filter(F.col("kind") == "md5")
            .join(exact_standing, ["kind", "fp"], "left_semi")
            .select(self.id_col)
            .distinct()
        )
        cand = (
            batch_fps.filter(F.col("kind") != "md5")
            .select(F.col(self.id_col).alias("_inc"), "kind", "fp")
            .join(
                standing_rows.filter(F.col("kind") != "md5").select(
                    F.col(self.id_col).alias("_ex"), "kind", "fp"
                ),
                ["kind", "fp"],
            )
            .select("_inc", "_ex")
            .distinct()
        )
        near_dups = verified_near_inc_ids(
            cand,
            in_batch,
            self.docs_table.read(),
            self.id_col,
            self.text_col,
            self.shingle_n,
            self.min_jaccard,
        )
        dup_ids = exact_dups.unionByName(near_dups).distinct()
        return _with_cut(in_batch.join(dup_ids, self.id_col, "left_anti"))
