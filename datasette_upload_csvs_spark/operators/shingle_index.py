"""Maintained shingle index: the managed-table form of the capped
near-dup candidate stage, so corpus APPENDS never re-read or
re-shingle old text.

The capped recipe (dedup.ngram_jaccard_pairs) recomputes the
(id, shingle-hash) postings and the document-frequency window from
the full corpus on every call — fine for one-shot jobs, wrong for a
growing 100 TB corpus where each ingest batch is a fraction of a
percent of the text. This module keeps that state as managed tables,
partitioned by ingest batch:

- ``<name>_postings`` — (shingle bigint, doc_id bigint, batch).
- ``<name>_sets``     — (doc_id, sh array<bigint>, n int, batch):
  full hash sets + set size, so the exact verify and the PPJoin
  count prune never re-derive them from text.
- ``<name>_df``       — (shingle, cnt, batch): per-batch shingle
  document frequencies. Total df = SUM(cnt) per shingle, aggregated
  over the COMPACT sidecar (distinct shingles per batch), pruned to
  the query batch's own shingles by a broadcast join.
- ``<name>_commits``  — (batch): the marker row written LAST.

Write protocol (same recovery grain as streaming/curation_stream):
each append lands in its own ``batch`` partition under DYNAMIC
partition overwrite, and the commit marker is appended only after
all three data tables committed. A crashed append leaves orphan
partitions that ``edges_for_batch`` never reads (it filters every
table to committed batches); a RETRIED append overwrites those same
partitions instead of duplicating rows. At-least-once appends +
idempotent partition writes + commit gating = exactly-once index
contents.

What the index buys — stated precisely:
- appends tokenize/hash each batch ONCE (the one-shot path re-reads
  and re-shingles the whole corpus per call: corpus-linear CPU and
  text I/O per append; here that work is batch-linear);
- no join in the edge query shuffles a corpus-sized relation: index
  reads are map-side column-pruned scans of compact long-typed
  relations filtered through batch-keyed broadcast joins. The scans
  themselves remain corpus-linear I/O (Spark does not bucket-prune
  on a broadcast-join key); the upgrade path to sub-linear reads is
  runtime row-group skipping (the postings files are written sorted
  by shingle for exactly that) or a driver-side IN pushdown for
  small batches — not claimed, not needed for shuffle discipline;
- the pair expansion and verify touch only batch-selected rows:
  O(Σ C(df, 2)) candidate structs over batch-touching rare shingles,
  PPJoin count-prune (dedup._count_prune, output-invariant), exact
  verify joins keyed on the batch-scale candidate set.

``edges_for_batch(new_docs)`` (call BEFORE appending the batch) is
output-equivalent to ``dedup.ngram_jaccard_pairs(full_corpus,
max_df=…, restrict_to_ids=new_ids)`` — same hash shingles
(dedup._shingle_hashes), same whole-grown-corpus df cap, same exact
verify — pinned across multi-append corpora by
tests/test_shingle_index.py.

Reference parity note: the reference engine has no incremental
index; this is the Spark-native scale path for the mandated dedup
family (SURVEY §2 B37)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators.dedup import (
    _count_prune,
    _doclist_pair_structs,
    _hash_shingle_frame,
    _jaccard_verify,
)
from datasette_upload_csvs_spark.streaming.epoch_write import (
    BASE_EPOCH as _BASE,
)
from datasette_upload_csvs_spark.streaming.epoch_write import (
    _drop_partitions,
    compact_state_table,
)


class ShingleIndex:
    def __init__(self, spark: SparkSession, name: str, n: int = 3):
        self.spark = spark
        self.name = name
        self.n = n
        self.postings = f"{name}_postings"
        self.sets = f"{name}_sets"
        self.df_tab = f"{name}_df"
        self.commits = f"{name}_commits"
        # persisted frames from the most recent edges_for_batch call;
        # release_batch_cache() unpersists them once the caller has
        # materialized the edges plan (see caching contract below)
        self._batch_cache: list[DataFrame] = []

    # ---------------------------------------------------------- build
    def _batch_sets(self, docs, text_col, id_col):
        frame = _hash_shingle_frame(docs, text_col, id_col, self.n)
        if id_col != "doc_id":
            frame = frame.withColumnRenamed(id_col, "doc_id")
        return frame.select("doc_id", "sh", F.size("sh").alias("n"))

    def _write_partition(self, out: DataFrame, table: str) -> None:
        """Idempotent per-batch write (dynamic partition overwrite —
        the curation_stream._write_batch recovery grain).

        The conf MUST be set on ``out``'s OWN session, not
        ``self.spark``: under foreachBatch the micro-batch frame
        belongs to a per-epoch CLONED session whose conf snapshot was
        taken at clone time — setting dynamic mode on the outer
        session leaves the clone on STATIC overwrite, and insertInto
        then silently replaces the WHOLE table instead of the batch's
        partition (found by the split_stream replay test: the index
        lost every earlier batch on the second epoch)."""
        spark = out.sparkSession
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "dynamic")
        try:
            if not spark.catalog.tableExists(table):
                (
                    out.write.mode("overwrite")
                    .partitionBy("batch")
                    .saveAsTable(table)
                )
            else:
                cols = spark.table(table).columns
                out.select(*cols).write.mode("overwrite").insertInto(table)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    def _ensure_commits_layout(self) -> None:
        """Migrate a legacy commits table in place. Before the
        generational-fold change the marker table was a single
        unpartitioned `batch` column; the current layout is
        (b payload, batch partition) so folds can move markers into
        the base partition without losing their ids. An index built
        under the old layout would otherwise crash _committed's
        select of `b` — detect it on first touch and rewrite every
        marker as (b=batch, batch). The table is Θ(batches) rows, so
        the one-time rewrite is metadata-scale.

        WRITE-THEN-SWAP, never drop-then-rewrite: markers gate every
        read, so a crash that loses the commits table makes the whole
        previously-committed index read as empty — silent data loss
        in a component whose contract is crash-invisible appends. The
        new-layout markers are written to a temp table first; the
        legacy table is dropped only after the replacement fully
        exists, and the final step is a metastore-atomic RENAME. Each
        crash window re-enters cleanly: before the drop, the legacy
        table is still authoritative (the temp is discarded and
        rebuilt); between drop and rename, the recovery branch below
        renames the completed temp into place on next touch."""
        spark = self.spark
        tmp = f"{self.commits}__migrate"
        if not spark.catalog.tableExists(self.commits):
            if spark.catalog.tableExists(tmp):
                # crashed between DROP and RENAME: the temp table is
                # complete (it is only ever dropped while the legacy
                # table still exists) — finish the swap
                spark.sql(f"ALTER TABLE {tmp} RENAME TO {self.commits}")
                # RENAME moves the data directory but drops the
                # catalog's partition registrations for a partitioned
                # managed table — re-discover them or reads are empty
                spark.sql(f"MSCK REPAIR TABLE {self.commits}")
            return
        if "b" in spark.table(self.commits).columns:
            return
        legacy = [
            r["batch"]
            for r in spark.table(self.commits)
            .select("batch")
            .distinct()
            .collect()
        ]
        if not legacy:
            # no markers at risk — plain drop is safe
            spark.sql(f"DROP TABLE {self.commits}")
            return
        # a stale temp from a crash before the drop may be partial;
        # the legacy table is still the source of truth — rebuild
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        self._write_partition(
            spark.createDataFrame(
                [(b, b) for b in legacy], "b bigint, batch bigint"
            ),
            tmp,
        )
        spark.sql(f"DROP TABLE {self.commits}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {self.commits}")
        # see the recovery branch above: partition registrations do
        # not survive RENAME on a partitioned managed table
        spark.sql(f"MSCK REPAIR TABLE {self.commits}")

    def append(
        self,
        docs: DataFrame,
        batch: int,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        """Add a batch of NEW documents to the index (caller
        guarantees ids unseen — same contract as append_splits).
        Safe to retry: every table write replaces the batch's own
        partition, and the commit marker (written last) gates reads,
        so a crashed append is invisible and a replayed one is
        idempotent."""
        self._ensure_commits_layout()
        b = F.lit(batch).cast("bigint")
        sets = self._batch_sets(docs, text_col, id_col).persist()
        try:
            postings = sets.select(
                F.explode("sh").alias("shingle"), "doc_id"
            ).persist()
            try:
                self._write_partition(
                    # sorted files position the table for parquet
                    # row-group min/max skipping if a pushed shingle
                    # filter is ever added (see module docstring)
                    postings.sortWithinPartitions("shingle").withColumn(
                        "batch", b
                    ),
                    self.postings,
                )
                self._write_partition(
                    sets.withColumn("batch", b), self.sets
                )
                self._write_partition(
                    postings.groupBy("shingle")
                    .agg(F.count("*").alias("cnt"))
                    .withColumn("batch", b),
                    self.df_tab,
                )
            finally:
                postings.unpersist()
        finally:
            sets.unpersist()
        # the marker carries its batch id as a PAYLOAD column too
        # (b == batch while live): compaction folds closed marker
        # partitions into the base partition, and committed-ness is
        # read off `b`, which survives the move. Partitioned write =
        # replay overwrites its own marker instead of appending a dup.
        marker = self.spark.range(1).select(b.alias("b"), b.alias("batch"))
        self._write_partition(marker, self.commits)

    def _committed(
        self, table: str, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Rows of ``table`` belonging to committed batches, or None
        when the index is empty. The commit list is tiny — it reaches
        the scan as a broadcast semi-join on the partition column.

        ``exclude_batch`` drops one batch id from the committed set:
        an at-least-once caller (streaming foreachBatch) that crashed
        AFTER append(batch) committed but BEFORE its own offsets were
        recorded will re-run edges_for_batch with the batch already
        in the index — excluding its own id makes the replay compute
        exactly what the first run computed. A batch already FOLDED
        into the base partition can no longer be excluded — hence
        compact()'s contract that the watermark stays at or below any
        batch an at-least-once caller could still replay."""
        spark = self.spark
        if not spark.catalog.tableExists(self.commits):
            return None
        self._ensure_commits_layout()
        good = (
            spark.table(self.commits)
            .select(F.col("b").alias("batch"))
            .distinct()
        )
        if exclude_batch is not None:
            good = good.filter(F.col("batch") != exclude_batch)
        t = spark.table(table)
        gated = t.filter(F.col("batch") >= 0).join(
            F.broadcast(good), "batch", "left_semi"
        )
        # the base partition holds folded history: always committed
        # by construction (compact() folds committed batches only),
        # readable even mid-fold of a sibling table. Staging
        # partitions (batch <= -2) match neither branch.
        return gated.unionByName(t.filter(F.col("batch") == _BASE))

    # ---------------------------------------------------------- query
    def edges_for_batch(
        self,
        new_docs: DataFrame,
        threshold: float = 0.7,
        max_df: int = 20,
        text_col: str = "text",
        id_col: str = "doc_id",
        exclude_batch: int | None = None,
    ) -> DataFrame:
        """Verified near-dup edges (id_a < id_b, jaccard) with ≥1
        endpoint in ``new_docs``, against the committed corpus PLUS
        the batch itself. Call BEFORE append(new_docs): the index
        holds the prior corpus; batch-internal pairs come from the
        batch frames in this plan. (Calling it after the batch was
        appended double-counts the batch in df and is guarded only
        by the self-pair filter — keep the documented order. An
        at-least-once REPLAY that cannot keep the order passes its
        own batch id as ``exclude_batch`` to mask the already-
        committed batch, making the replay bit-equal to the first
        run.)

        df cap semantics match the one-shot capped path: a shingle's
        document frequency counts the WHOLE grown corpus (sidecar
        sum + batch count); candidate pairs come only from shingles
        with df ≤ max_df; the PPJoin count prune is output-invariant;
        every surviving candidate is exact-verified over the full
        hash sets, so emitted similarities are never approximate.

        Caching contract (same as the dedup operators): the batch
        frames persist and the returned plan references them. Once the
        returned plan is materialized (count/checkpoint/write), call
        ``release_batch_cache()`` to unpersist them — long-running
        callers (the streaming sinks) that skip this grow executor
        storage without bound across micro-batches. One-shot callers
        may ``spark.catalog.clearCache()`` instead."""
        self.release_batch_cache()
        new_sets = self._batch_sets(new_docs, text_col, id_col).persist()
        self._batch_cache.append(new_sets)
        new_postings = new_sets.select(
            F.explode("sh").alias("shingle"), "doc_id"
        )

        # batch shingles with their in-batch counts — batch-sized,
        # broadcastable; every shared shingle of an output pair is
        # one of these (the pair has a new endpoint)
        batch_sh = (
            new_postings.groupBy("shingle")
            .agg(F.count("*").alias("cnt_new"))
            .persist()
        )
        self._batch_cache.append(batch_sh)

        # full-corpus df for exactly those shingles: the broadcast
        # join prunes the (compact) sidecar aggregation, and the
        # pruned aggregate re-broadcasts — ≤ |batch shingles| rows
        old_df_rows = self._committed(self.df_tab, exclude_batch)
        if old_df_rows is not None:
            df_old = (
                old_df_rows.join(
                    F.broadcast(batch_sh.select("shingle")), "shingle"
                )
                .groupBy("shingle")
                .agg(F.sum("cnt").alias("cnt_old"))
            )
        else:  # first batch: the batch is the whole corpus
            df_old = batch_sh.select(
                "shingle", F.lit(None).cast("bigint").alias("cnt_old")
            ).limit(0)
        rare = (
            batch_sh.join(F.broadcast(df_old), "shingle", "left")
            .select(
                "shingle",
                (
                    F.col("cnt_new") + F.coalesce("cnt_old", F.lit(0))
                ).alias("df"),
            )
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )

        # partner postings: committed index rows for rare batch
        # shingles + the batch's own postings for those shingles
        all_post = new_postings.join(F.broadcast(rare), "shingle")
        old_post = self._committed(self.postings, exclude_batch)
        if old_post is not None:
            all_post = old_post.select("shingle", "doc_id").join(
                F.broadcast(rare), "shingle"
            ).unionByName(all_post)

        # pair expansion per rare shingle (≤ C(df, 2) structs); the
        # grouped aggregation doubles as the shared-rare count
        # (c_rare) the PPJoin prune consumes. The self-pair filter is
        # a guard against out-of-order use (batch already appended),
        # where a doc would meet itself in the doc list.
        cand = (
            all_post.groupBy("shingle")
            .agg(F.collect_list("doc_id").alias("ds"))
            .select(F.explode(_doclist_pair_structs(F.col("ds"))).alias("p"))
            .select("p.id_a", "p.id_b")
            .filter(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("c_rare"))
        )

        # keep pairs with ≥1 new endpoint (broadcast flag joins —
        # the one-pass pattern ngram_jaccard_pairs uses)
        nid = new_sets.select("doc_id")
        ra = nid.select(
            F.col("doc_id").alias("id_a"), F.lit(True).alias("_a_new")
        )
        rb = nid.select(
            F.col("doc_id").alias("id_b"), F.lit(True).alias("_b_new")
        )
        cand = (
            cand.join(F.broadcast(ra), "id_a", "left")
            .join(F.broadcast(rb), "id_b", "left")
            .filter(
                F.coalesce("_a_new", F.lit(False))
                | F.coalesce("_b_new", F.lit(False))
            )
            .drop("_a_new", "_b_new")
        )

        # The sets table (the widest index relation — full hash
        # arrays) is scanned ONCE: a broadcast candidate-id semi
        # prune selects the batch-scale survivor rows with all three
        # columns (doc_id, n, sh), and that persisted frame feeds
        # the PPJoin stats AND both sides of the exact verify. (The
        # first cut scanned sets three times — sizes + each verify
        # side; at 64x corpus width the redundant array scans, not
        # the candidate work, dominated the query.)
        cand_ids = (
            cand.select(F.col("id_a").alias("doc_id"))
            .unionByName(cand.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .persist()
        )
        self._batch_cache.append(cand_ids)
        all_sets = new_sets.select("doc_id", "n", "sh")
        old_sets = self._committed(self.sets, exclude_batch)
        if old_sets is not None:
            all_sets = old_sets.select("doc_id", "n", "sh").unionByName(
                all_sets
            )
        pruned_sets = all_sets.join(F.broadcast(cand_ids), "doc_id").persist()
        self._batch_cache.append(pruned_sets)

        # PPJoin count prune (output-invariant): per-doc stats are
        # 3 ints off the pruned frame
        n_rare = all_post.groupBy("doc_id").agg(
            F.count("*").alias("n_rare")
        )
        stats = (
            pruned_sets.select("doc_id", "n")
            .join(F.broadcast(n_rare), "doc_id", "left")
            .select(
                "doc_id",
                F.col("n").alias("n_full"),
                (F.col("n") - F.coalesce("n_rare", F.lit(0))).alias(
                    "n_hot"
                ),
            )
        )
        cand = _count_prune(cand, stats, "doc_id", "jaccard", threshold,
                            "c_rare")

        # exact verify over full hash sets — both lookup sides come
        # from the one pruned scan; the final pair join moves only
        # batch-scale rows (it may shuffle — that is batch-keyed,
        # not corpus-keyed).
        return _jaccard_verify(cand, pruned_sets, "doc_id", threshold)

    # ----------------------------------------------------- compaction
    def compact(
        self,
        before_batch: int,
        target_files: int = 8,
        since_batch: int = 0,
    ) -> int:
        """Fold every committed batch partition below ``before_batch``
        into the BASE partition of all four index tables — the
        streaming state-table fold (epoch_write.compact_state_table)
        reused with part_col="batch", so partition and file counts
        stay bounded under unbounded appends instead of accreting one
        file-set per batch forever. Returns the number of postings
        partitions folded.

        Same contract as the state-table fold: run QUIESCED (between
        appends/queries), crash anywhere and re-run with the same
        watermark — every step is one job-atomic write or metadata
        drop, and the staging id encodes the watermark. Additionally:

        * ``before_batch`` must not exceed any batch an at-least-once
          caller could still replay: a folded batch can no longer be
          masked by ``exclude_batch`` (streaming callers pass their
          current epoch, which is always safe);
        * UNCOMMITTED orphan partitions below the watermark (crashed
          appends whose retry window has passed — the same invariant
          ``before_batch`` asserts) are dropped, never folded: folding
          would promote rows the commit gate correctly hides;
        * reads stay correct at every quiesced intermediate state: a
          table's folded rows live either in its own batch partitions
          (commit-gated) or in base (read unconditionally), never
          visible twice, and the marker table folds LAST with its
          payload ids intact.

        Postings and df fold with sort_cols=["shingle"] so the base
        partition keeps the shingle-sorted row groups appends write
        (the parquet min/max-skipping posture).

        ``since_batch > 0`` makes this a MINOR (generational) fold —
        epoch_write's tiered recipe: only [since_batch, before_batch)
        is merged, into a RUN partition, so the fold's I/O is the
        window's, not the history's, and a later major fold
        (since_batch=0) absorbs the runs. One index-specific
        subtlety: reads gate table rows by PARTITION id against the
        commit markers' payload ids, so the run id must itself be a
        COMMITTED batch — the fold picks the window's highest
        committed id (orphans were just dropped, so that is the
        window max), and every folded row is committed by
        construction, keeping the gate exact at any crash point."""
        spark = self.spark
        if not spark.catalog.tableExists(self.commits):
            return 0
        self._ensure_commits_layout()
        spark.catalog.refreshTable(self.commits)
        committed = {
            r["b"]
            for r in spark.table(self.commits).select("b").distinct().collect()
        }
        into = None
        if since_batch > 0:
            in_window = [
                b for b in committed if since_batch <= b < before_batch
            ]
            if not in_window:
                return 0  # nothing committed in the window
            into = max(in_window)
        folded = 0
        for table, sort_cols in (
            (self.postings, ["shingle"]),
            (self.sets, None),
            (self.df_tab, ["shingle"]),
        ):
            if not spark.catalog.tableExists(table):
                continue
            spark.catalog.refreshTable(table)
            part_ids = [
                r["batch"]
                for r in spark.table(table).select("batch").distinct().collect()
            ]
            orphans = [
                p
                for p in part_ids
                if since_batch <= p < before_batch and p not in committed
            ]
            _drop_partitions(spark, table, orphans, "batch")
            n = compact_state_table(
                spark,
                table,
                before_batch,
                target_files=target_files,
                part_col="batch",
                sort_cols=sort_cols,
                since_epoch=since_batch,
                into_epoch=into,
            )
            if table == self.postings:
                folded = n
        compact_state_table(
            spark,
            self.commits,
            before_batch,
            target_files=1,
            part_col="batch",
            since_epoch=since_batch,
            into_epoch=into,
        )
        return folded

    def release_batch_cache(self) -> None:
        """Unpersist the frames cached by the last edges_for_batch
        call. Safe to call any time AFTER the returned edges plan has
        been materialized (eager localCheckpoint / write / collect);
        a no-op when nothing is cached."""
        for df in self._batch_cache:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to free
        self._batch_cache = []

    def drop(self) -> None:
        self.release_batch_cache()
        for t in (self.postings, self.sets, self.df_tab, self.commits):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
