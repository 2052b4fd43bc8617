package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Append-only parquet state shared by the `StreamFold.fold` streams: a
  * set of named tables under generation directories `work/g<N>/<table>/b<batchId>`.
  *
  * Contract (the subtle parts, kept in ONE place):
  *   - per-batch appends are O(batch) files; nothing rewrites the full
  *     state per batch;
  *   - `read` snapshots the table's FILE LISTING at call time, so a frame
  *     read before `endBatch` can never observe the batch's own appends,
  *     even if it is consumed late (the listing is fixed; a re-list after
  *     the generation was compacted away fails loudly, never silently
  *     double-counts);
  *   - writes are keyed by the micro-batch id and `overwrite` their own
  *     `b<batchId>` subdir, so a batch REPLAYED after a crash (the batch
  *     sink is at-least-once: the failure can land between the state append and
  *     the checkpoint commit) lands on exactly the same rows instead of
  *     appending twice. For that to hold, the replayed computation must see
  *     the SAME state the original attempt saw — so per-batch reads pass
  *     `excludeBatch = Some(batchId)` and never observe their own crashed
  *     writes (novelty-derived appends like "reps new to the state" would
  *     otherwise recompute EMPTY on replay and overwrite the real rows
  *     away). A batch already folded into a compacted generation (`_upto`
  *     manifest) cannot be excluded from reads anymore; callers check
  *     `alreadyFolded` and skip the whole replay (its outputs necessarily
  *     completed — compaction runs inside its `endBatch`);
  *   - every `compactEvery` batches the generation's per-batch files fold
  *     into a coalesced rewrite under `g<N+1>` and the superseded dir is
  *     deleted (a durable deployment would size the coalesce by bytes);
  *     a registered table that no batch has appended yet compacts as the
  *     empty frame;
  *   - a table may register a `fold` (keyed-monoid reduction, e.g.
  *     latest-wins per key or per-key (min, sum)) applied to the unioned
  *     generation at compaction, so the compacted state stays O(distinct
  *     keys) instead of O(appended rows). The fold MUST be
  *     order-insensitive and composable — `fold(fold(a) ∪ b) ==
  *     fold(a ∪ b)` — because later appends land NEXT TO the folded
  *     generation and readers fold the union again at read time;
  *   - the whole clock (current generation, batches in it, fold manifest)
  *     is reconstructed from the directory layout on construction, so an
  *     instance opened over an existing `work` dir RESUMES that state —
  *     this is what lets a restarted stream reload its dedup state and its
  *     streaming checkpoint together (they live side by side under the
  *     same dir);
  *   - single-stream use only: micro-batches run sequentially within a
  *     stream; concurrent streams need one instance each;
  *   - a batch's writes all finish before its commit returns or throws:
  *     a failed append cancels its siblings' running jobs and never
  *     leaves one still writing into `b<batchId>`, where it could race
  *     the replayed batch's overwrite.
  *
  * All listing/walking/deleting goes through the Hadoop `FileSystem`
  * resolved from the `work` path (the active session's Hadoop conf when
  * one exists), so the same layout works on a driver-local dir, an NFS
  * mount, or a cluster filesystem — the layout is the contract, not the
  * filesystem. The specs exercise both plain paths and explicit
  * `file://` URIs through the same instance.
  */
private[graft] final class AppendOnlyState(val work: String,
    tables: Seq[(String, StructType)], compactEvery: Int,
    folds: Map[String, DataFrame => DataFrame] = Map.empty) {
  private val schemas = tables.toMap
  private val workPath = new Path(work)
  private val fs: FileSystem = workPath.getFileSystem(
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private def listDirs(p: Path): Seq[Path] =
    if (fs.exists(p)) fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
    else Seq.empty

  private def genDirs: Seq[Int] =
    listDirs(workPath)
      .filter(_.getName.matches("g\\d+"))
      .map(_.getName.drop(1).toInt).sorted

  private def parquetFilesUnder(dir: Path): Seq[String] = {
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (st.isDirectory) {
        if (st.getPath.getName == "_temporary") Seq.empty // crash debris
        else fs.listStatus(st.getPath).toSeq.flatMap(walk)
      } else if (st.getPath.getName.endsWith(".parquet"))
        Seq(st.getPath.toString)
      else Seq.empty
    if (fs.exists(dir)) fs.listStatus(dir).toSeq.flatMap(walk) else Seq.empty
  }

  private def batchDirsIn(g: Int): Set[Long] =
    tables.flatMap { case (t, _) =>
      listDirs(new Path(s"$work/g$g/$t"))
        .filter(_.getName.matches("b\\d+"))
        .map(_.getName.drop(1).toLong)
    }.toSet

  private def uptoOf(g: Int): Option[Long] = {
    val p = new Path(s"$work/g$g/_upto")
    if (fs.exists(p) && fs.getFileStatus(p).isFile) {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in)).trim.toLong)
      finally in.close()
    } else None
  }

  // --- durable recovery: reconstruct the clock from the layout alone.
  // `_upto` doubles as the compaction COMMIT MARKER (written after the
  // compacted tables, before the old generation is deleted): a crash
  // mid-compaction leaves a higher gen dir without it, which recovery
  // discards — the un-deleted previous generation is still complete. ---
  @volatile private var gen: Int = {
    val committed = genDirs.filter(g => g == 0 || uptoOf(g).isDefined)
    val current = committed.lastOption.getOrElse(0)
    genDirs.filter(_ != current).foreach(g => // partial or superseded gens
      fs.delete(new Path(s"$work/g$g"), true))
    current
  }
  @volatile private var batchesInGen: Int = batchDirsIn(gen).size
  /** Max batch id folded into the current generation by compaction
    * (`_upto` manifest); -1 before the first compaction. */
  @volatile private var foldedUpTo: Long = uptoOf(gen).getOrElse(-1L)
  @volatile private var hasData: Boolean =
    foldedUpTo >= 0 || batchesInGen > 0

  /** One state table as a DataFrame over a file listing SNAPSHOTTED now —
    * explicit-schema (an append dir whose only batches were empty has no
    * files to infer from); an empty local frame when no files exist.
    * Per-batch reads pass `excludeBatch` (the CURRENT batch id) so a
    * replayed batch never observes its own crashed writes. */
  def read(ss: SparkSession, table: String,
           excludeBatch: Option[Long] = None): DataFrame = {
    val sch = schemas(table)
    val root = new Path(s"$work/g$gen/$table")
    val files = excludeBatch match {
      case Some(b) =>
        (if (fs.exists(root)) fs.listStatus(root).map(_.getPath).toSeq
         else Seq.empty)
          .filter(_.getName != s"b$b")
          .flatMap(parquetFilesUnder)
      case None => parquetFilesUnder(root)
    }
    if (files.nonEmpty) ss.read.schema(sch).parquet(files: _*)
    else ss.createDataFrame(ss.sparkContext.emptyRDD[Row], sch)
  }

  /** True when `batchId` was folded into a compacted generation: its rows
    * can no longer be excluded from reads, so a replay must SKIP the batch
    * entirely (safe — compaction runs inside its endBatch, so the
    * original attempt completed all its writes). */
  def alreadyFolded(batchId: Long): Boolean = batchId <= foldedUpTo

  /** Write this batch's rows (idempotent on `batchId`) and advance the
    * generation clock. A replay of a batch already folded by compaction is
    * a no-op. */
  def endBatch(ss: SparkSession, batchId: Long, appends: (String, DataFrame)*): Unit =
    endBatchWork(ss, batchId, Nil,
      appends.map { case (t, df) => (t, () => df) }: _*)

  /** `endBatch` with two overlap levers for the per-micro-batch job floor,
    * all run through one `Overlap.all`:
    *   - `side`: caller-supplied labeled writes (e.g. the near-dup
    *     emission write) that run concurrently with the state appends.
    *     Each must be an idempotent batch-keyed write whose inputs are
    *     listing-snapshotted state reads / checkpointed blocks — then its
    *     order against the appends is free. It is awaited here because
    *     compaction below may DELETE the generation its listing snapshot
    *     points at;
    *   - `appends` are call-by-need: a thunk may force a shared lazy
    *     value (e.g. a batch-kernel checkpoint) so that the OTHER tables'
    *     writes start immediately instead of serializing behind it. */
  def endBatchWork(ss: SparkSession, batchId: Long,
                   side: Seq[(String, () => Unit)],
                   appends: (String, () => DataFrame)*): Unit = {
    if (alreadyFolded(batchId)) return // replayed batch, already compacted in
    val stateDir = s"$work/g$gen"
    val replay = batchDirsIn(gen).contains(batchId)
    // the per-table writes are independent jobs over disjoint output dirs
    // — run them concurrently so a batch pays ONE write-job latency, not
    // one per table (micro-batch fixed cost is the dominant term for
    // small batches). NO blanket coalesce here: for several streams the
    // append frame IS the batch kernel pass (qs17's map-side feature
    // rows, the codec streams), and a coalesce would squeeze that compute
    // into few tasks — measured +32% on qs17 when this write briefly
    // coalesce(4)'d. Callers whose append frames are cheap projections of
    // checkpointed blocks coalesce at the call site; compaction below
    // still bounds the steady-state file count.
    graft.Overlap.all(ss)(appends.map { case (t, mkDf) =>
      s"state: append $t" -> (() =>
        mkDf().write.mode("overwrite").parquet(s"$stateDir/$t/b$batchId"))
    } ++ side: _*)
    hasData = true
    if (!replay) batchesInGen += 1
    if (batchesInGen >= compactEvery) {
      val next = s"$work/g${gen + 1}"
      tables.foreach { case (t, sch) =>
        val files = parquetFilesUnder(new Path(s"$stateDir/$t"))
        val df =
          if (files.nonEmpty) ss.read.schema(sch).parquet(files: _*)
          else ss.createDataFrame(ss.sparkContext.emptyRDD[Row], sch)
        graft.Overlap.labeled(ss, s"state: compact $t")(folds.get(t).fold(df)(f => f(df))
          .coalesce(4).write.mode("overwrite").parquet(s"$next/$t/c${gen + 1}"))
      }
      val upto = fs.create(new Path(s"$next/_upto"), true)
      try upto.write(batchId.toString.getBytes) finally upto.close()
      fs.delete(new Path(stateDir), true)
      gen += 1
      batchesInGen = 0
      foldedUpTo = batchId
    }
  }

  def nonEmpty: Boolean = hasData
}
