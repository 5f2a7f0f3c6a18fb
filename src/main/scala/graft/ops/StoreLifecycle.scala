package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The one store kernel. Every persisted store — IVF, PQ, IVF-PQ, LSH,
  * set-join, token-edit, gram, text, edge, CC, media, the sketches and
  * the rollups — claims, commits and repairs through it, and the
  * filesystem primitives those steps share live here.
  *
  * CLAIM ([[claim]]): batch 0 — or a store whose pin is missing — claims
  * the root and wipes the previous run's store whole: its state dirs and
  * each dir's `.compacting` twin, the tombstones, the staged trees, the
  * params pin and the inflight marker. Later batches validate against
  * the pin and fail fast on a mismatch (stores built under different
  * parameters must never merge). Callers write
  * `if (claim(...)) train-or-pin else validate`. The claim runs BEFORE
  * the caller's empty-batch check: an empty batch 0 must still retire a
  * stale store, or the previous run's state would leak into every later
  * batch. A content-free pin (sketch depth, LSH bands) is written at
  * once; a pin TRAINED from content (IVF centroids, the PQ codebook, the
  * set-join df order) is not, so an empty claim returns with the pin
  * gone and the first non-empty batch claims again and trains. Each
  * batch lands its state under `<state>/batch_id=N`, so a
  * checkpoint-retried batch overwrites itself.
  *
  * STAGED COMMIT ([[commit]], [[commitTree]]): a mutation spanning
  * several trees lands its whole output under `staged.compacting`; the
  * rename to `staged` is the ATOMIC COMMIT POINT; the apply folds the
  * staged tree into the live dirs (idempotent file moves and bucket
  * swaps) and deletes it. The inflight marker spans the apply window, so
  * readers refuse a half-applied store. Hence the invariant the repair
  * relies on: MARKER WITHOUT A STAGED TREE ⇒ THE STORE IS CONSISTENT
  * (up to the `.compacting` twins of [[rewriteDir]] swaps).
  *
  * REPAIR ([[repair]]), run by every incremental mutator first: no
  * marker ⇒ any `staged.compacting` is pre-commit garbage. A marker ⇒ a
  * committed staged tree rolls forward, an uncommitted one drops, the
  * complete `.compacting` twin of a lost live dir rolls forward, and the
  * marker clears — unless it names an op the store cannot finish for it
  * (a full rebuild, a relayout), which refuses with the remedy named.
  */
private[graft] object StoreLifecycle {

  // ---- filesystem primitives ----

  /** The filesystem holding `path` (local or cluster FS). */
  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `true` when `dir` exists — the streaming ingests key their
    * train-vs-append branch on the persisted store, not on the batch id,
    * so an empty first micro-batch cannot leave an index untrained.
    */
  def storeExists(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new Path(dir))

  /** Recursively delete `dir` if it exists (no-op otherwise) — the retrain
    * and compaction primitive: a retraining ingest must remove the WHOLE
    * stale data subtree (every `batch_id=N` dir from a prior stream, any
    * `centroid_id=*` layout from a batch build), because parquet overwrite
    * of one partition dir leaves sibling dirs — vectors assigned under the
    * OLD quantizer — for every future probe to silently mix in.
    */
  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Whole-file UTF-8 write of a small store pin/stamp (bucket pins,
    * exactly-once stamps, fold points, manifests, the inflight marker) —
    * one plain-FS-file discipline: a 1-row parquet would cost a Spark job
    * per lifecycle call.
    */
  def writeSmallFile(spark: SparkSession, file: String, text: String): Unit = {
    val out = fsOf(spark, file).create(new Path(file), true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Whole-file UTF-8 read of a small pin/stamp, or None when it is
    * absent — drains fully (the FS contract allows short reads; a
    * truncated stamp would misdirect the exactly-once decision).
    */
  def readSmallFile(spark: SparkSession, file: String): Option[String] = {
    val fs = fsOf(spark, file)
    val p = new Path(file)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Read the parquet tree at `dir` with the schema its writer stored in
    * its files. A schemaless `spark.read.parquet` infers that same schema
    * from one file's footer, but in a Spark job of its own; this reads
    * the footer on the driver. Partition columns are still discovered
    * from the directory names. A tree without a Spark-written file falls
    * back to inference (and fails as it would).
    */
  def readAsWritten(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = fsOf(spark, dir)
    // the part files Spark's listing reads: no hidden or `_`-prefixed
    // (non-partition) path component below `dir`
    def visible(f: Path): Boolean =
      Iterator.iterate(f)(_.getParent).takeWhile(p => p != null && p.depth() > root.depth())
        .forall(p => !p.getName.startsWith(".") && (!p.getName.startsWith("_") || p.getName.contains("=")))
    val files = if (fs.exists(root)) fs.listFiles(root, true) else null
    var schema: Option[StructType] = None
    while (schema.isEmpty && files != null && files.hasNext) {
      val f = fs.makeQualified(files.next().getPath)
      if (f.getName.endsWith(".parquet") && visible(f)) {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration))
        try schema = Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(sparkSchemaKey))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        finally r.close()
      }
    }
    schema.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }

  /** The footer key Spark's parquet writer stores the row schema under. */
  private val sparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Rewrite `dir` with the (materialized) content of `df` via a
    * tmp-dir + rename swap: the new generation lands completely in
    * `<dir>.compacting` before the old tree is dropped, so a crashed
    * rewrite leaves the live tree untouched or a complete twin that
    * [[rollForwardOrDrop]] promotes.
    */
  def rewriteDir(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      partitionCols: Seq[String]): Unit = {
    val tmp = s"$dir.compacting"
    deleteDir(spark, tmp)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    deleteDir(spark, dir)
    require(
      fsOf(spark, dir).rename(new Path(tmp), new Path(dir)),
      s"compaction rename $tmp -> $dir failed")
  }

  /** The [[rewriteDir]] window cleaner: a live dir missing with a
    * COMPLETE `.compacting` twin (its `_SUCCESS` is the completeness
    * witness) rolls forward; any other twin is pre-swap garbage and drops
    * — unless the live dir is gone too and `lostFails` (a store whose
    * content that dir alone holds), which refuses instead.
    */
  def rollForwardOrDrop(spark: SparkSession, dir: String, lostFails: Boolean = false): Unit = {
    val fs = fsOf(spark, dir)
    val live = new Path(dir)
    val tmp = new Path(s"$dir.compacting")
    if (fs.exists(tmp)) {
      if (!fs.exists(live) && fs.exists(new Path(tmp, "_SUCCESS")))
        require(fs.rename(tmp, live), s"rolling forward $tmp -> $live failed")
      else if (lostFails && !fs.exists(live))
        throw new IllegalStateException(
          s"store at ${live.getParent} lost ${live.getName} mid-rewrite and its .compacting " +
            "tree is incomplete — rebuild the store")
      else fs.delete(tmp, true)
    }
  }

  // ---- bucketing pin ----

  /** Version of the bucket FUNCTION (`pmod(hash(cols), n)`) a bucketed
    * store (edge, CC, text) was laid out with: a store laid out by a
    * different hash must be refused, not silently read — the bucket count
    * alone cannot witness that.
    */
  private val bucketingVersion = "v1"

  /** Persist a bucketed store's layout pin `bucketing`: the hash-function
    * version and the bucket count, as `v1\n<count>`.
    */
  def writeBucketing(spark: SparkSession, path: String, n: Int): Unit =
    writeSmallFile(spark, s"$path/bucketing", s"$bucketingVersion\n$n")

  /** The bucket count a store was laid out with — what every mutator,
    * reader and census uses, never a compile-time default. A pin with a
    * hash-function version this binary does not speak, or a count below
    * 1, is refused with the rebuild named (reading it would silently
    * swap or probe the wrong buckets). A store WITHOUT a pin gets
    * `ifAbsent`, the caller's missing-pin policy: a legacy layout where
    * pinless stores exist, a refusal where a missing pin only means a
    * damaged tree.
    */
  def readBucketing(spark: SparkSession, path: String, ifAbsent: => Int): Int =
    readSmallFile(spark, s"$path/bucketing").fold(ifAbsent) { pin =>
      val lines = pin.trim.split("\n").map(_.trim)
      require(
        lines.length >= 2 && lines(0) == bucketingVersion,
        s"store at $path is bucketed with hash-function version '${lines.headOption.getOrElse("")}' " +
          s"but this binary speaks '$bucketingVersion' — rebuild the store before using it")
      val n = lines(1).toInt
      require(n >= 1, s"store at $path pins a non-positive bucket count $n — rebuild it")
      n
    }

  // ---- tombstones ----

  /** The store's tombstone set, if any, read with its known `schema` so
    * the read pays no parquet footer job to infer it:
    * [[Similarity.deleteFromIndex]] always writes `del_id bigint`; the
    * edge store tombstones `(u, v)` pairs.
    */
  def tombstones(
      spark: SparkSession, path: String, schema: String = "del_id bigint"): Option[DataFrame] =
    if (storeExists(spark, s"$path/tombstones"))
      Some(spark.read.schema(schema).parquet(s"$path/tombstones"))
    else None

  /** Subtract tombstoned ids from an index-side table (no-op when no
    * tombstones exist): a left-anti equi-join on the id column. The
    * tombstone side is small by construction (deletes are events, the
    * index is the corpus), so AQE broadcasts it and the index side never
    * shuffles for the subtraction.
    */
  def minusTombstones(
      spark: SparkSession, path: String, df: DataFrame, idColName: String): DataFrame =
    tombstones(spark, path).fold(df)(t =>
      df.join(
        t.select(col("del_id").cast(df.schema(idColName).dataType).as(idColName)),
        Seq(idColName),
        "left_anti"))

  def clearTombstones(spark: SparkSession, path: String): Unit =
    deleteDir(spark, s"$path/tombstones")

  /** Shared compaction kernel for one data subtree of a persisted index:
    * read every generation under `$path/$sub` (base build, appends,
    * `batch_id=N` ingest dirs), subtract tombstones, drop the `batch_id`
    * lineage column if present, and [[rewriteDir]]-swap the consolidated
    * result back in place.
    */
  def compactIndexDir(
      spark: SparkSession,
      path: String,
      sub: String,
      idColName: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val raw = spark.read.parquet(s"$path/$sub")
    val live = minusTombstones(spark, path, raw, idColName)
    if (raw.columns.contains("batch_id"))
      // A STREAM-maintained subtree stays batch-keyed after compaction:
      // everything folds into ONE synthetic generation, `batch_id=-1`
      // (real micro-batch ids are >= 0, so a resumed stream never
      // collides with it). Folding to a FLAT layout instead would make
      // the next ingest batch's `batch_id=N` dir sit beside plain files /
      // `centroid_id=*` dirs and break partition discovery — compaction
      // must be safe MID-stream, not only at end-of-life.
      rewriteDir(
        spark,
        live.withColumn("batch_id", lit(-1L)),
        s"$path/$sub",
        "batch_id" +: partitionCols)
    else rewriteDir(spark, live, s"$path/$sub", partitionCols)
  }

  // ---- the inflight marker ----

  /** Crash INTENT marker for multi-directory rewrites: a retrain/rebuild
    * that tmp-and-swaps several subtrees writes `$path/inflight` before
    * its FIRST swap and clears it after the LAST, so the degraded window
    * (each directory readable but the set mutually inconsistent — new
    * codes under an old codebook, new postings under an old df) is
    * DETECTABLE: probes and drift audits [[requireNotInflight]] and
    * refuse instead of silently mis-scoring. A crash before the first
    * swap leaves the store untouched with a stale marker; re-running the
    * interrupted op (or a full write) clears it either way.
    *
    * The marker is a PLAIN FILE holding the op name (one driver-side FS
    * `create`, ~ms), NOT a Spark write: a 1-row parquet job costs a full
    * job-schedule + commit round and leaves the first swap unprotected
    * for that long. [[inflightOp]] still reads the legacy 1-row-parquet
    * directory form, so stores marked by an older binary stay detectable.
    */
  def markInflight(spark: SparkSession, path: String, op: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new Path(s"$path/inflight")
    // a re-run over a crashed legacy (directory-form) marker must replace
    // it — create(overwrite) only replaces FILES
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
    writeSmallFile(spark, s"$path/inflight", op)
  }

  def clearInflight(spark: SparkSession, path: String): Unit =
    deleteDir(spark, s"$path/inflight") // recursive: clears file and legacy dir forms alike

  /** The stored op name of a pending [[markInflight]] marker, or None. One
    * FS existence check when no marker is up; honors both the plain-file
    * form and the legacy 1-row-parquet directory form.
    */
  def inflightOp(spark: SparkSession, path: String): Option[String] = {
    val fs = fsOf(spark, path)
    val p = new Path(s"$path/inflight")
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isDirectory)
      Some(spark.read.parquet(s"$path/inflight").head().getString(0))
    else readSmallFile(spark, s"$path/inflight")
  }

  /** Refuse to read a store whose last multi-directory rewrite never
    * finished — the [[markInflight]] contract's read side.
    */
  def requireNotInflight(spark: SparkSession, path: String): Unit =
    inflightOp(spark, path).foreach { op =>
      throw new IllegalStateException(
        s"index at $path has an interrupted '$op' rewrite (inflight marker present) — " +
          s"its directories may be mutually inconsistent; re-run $op to completion " +
          "(or rebuild the store) before probing")
    }

  // ---- claim ----

  /** Delete each of `dirs` under `path` and its `.compacting` twin, plus
    * the params pin, the tombstones and the staged trees: everything a
    * claim or a full write replaces. The inflight marker is left to the
    * caller — a full write keeps its own marker up across the rewrite.
    */
  def wipe(spark: SparkSession, path: String, dirs: Seq[String]): Unit =
    (dirs ++ Seq("params", "tombstones", "staged"))
      .flatMap(d => Seq(d, s"$d.compacting"))
      .distinct
      .foreach(d => deleteDir(spark, s"$path/$d"))

  /** Claim-or-validate: `true` when batch `batchId` claims the root —
    * batch 0, or a store without its `pin` (the params pin; the media
    * index keys on its fingerprints) — after [[wipe]]-ing the previous
    * run's store (`stateDirs`, the pin first so a crashed wipe claims
    * again) and clearing any inflight marker (a fresh stream resolves a
    * crashed run). The caller then pins or trains on `true` and
    * validates its pin on `false`.
    */
  def claim(
      spark: SparkSession,
      path: String,
      batchId: Long,
      stateDirs: Seq[String],
      pin: String = "params"): Boolean = {
    val claimed = batchId == 0L || !storeExists(spark, s"$path/$pin")
    if (claimed) {
      wipe(spark, path, pin +: stateDirs)
      clearInflight(spark, path)
    }
    claimed
  }

  // ---- staged commit ----

  /** Stage, commit, apply: `stage` writes the op's full output under the
    * tmp dir it is handed; the rename of that dir to `$path/staged` is the
    * atomic commit point, and the inflight marker spans the apply. A tree
    * staged WITHOUT an `op` manifest (the text index's append) applies by
    * appending each staged tree's part files into its live twin.
    */
  def commitTree(spark: SparkSession, path: String, op: String)(stage: String => Unit): Unit = {
    val tmp = s"$path/staged.compacting"
    deleteDir(spark, tmp)
    stage(tmp)
    markInflight(spark, path, op) // refuse probes through the apply window
    require(
      fsOf(spark, path).rename(new Path(tmp), new Path(s"$path/staged")),
      s"staged commit rename $tmp -> $path/staged failed")
    applyStaged(spark, path)
    clearInflight(spark, path)
  }

  /** [[commitTree]] with an `op` manifest — the edge and CC stores'
    * mutations. `delta` (when present) lands under `$path/$deltaTarget`
    * — appended file-by-file (`replaceTarget` false: the batch edge
    * store's `edges`/`tombstones` grow), or as a whole-directory swap
    * (`replaceTarget` true: a stream generation `edges/batch_id=N` or
    * `cclog/batch_id=N`, where a retry must replace its own half-landed
    * files; also the batch compaction's flat `edges` rewrite).
    * `bucketed` is a list of `(sub, content, touched)` trees — the new
    * content of the touched buckets of each `$path/$sub`, WITH the
    * bucket column already attached; every touched bucket is staged even
    * when its new content is empty, so the apply can retire emptied
    * buckets (with ONE schema-bearing empty file seeded, so a mutation
    * emptying every populated bucket never leaves a tree parquet schema
    * inference cannot read). `stamp` (stream stores) swaps the
    * plain-file exactly-once stamp in the same apply; `clearTombs`
    * (batch compaction) deletes the tombstones inside the apply, so no
    * crash window can separate the edges rewrite from the tombstone
    * clear.
    */
  def commit(
      spark: SparkSession,
      path: String,
      op: String,
      deltaTarget: String,
      replaceTarget: Boolean,
      delta: Option[DataFrame],
      bucketed: Seq[(String, DataFrame, Seq[Int])],
      stamp: Option[Long] = None,
      clearTombs: Boolean = false): Unit =
    commitTree(spark, path, op) { tmp =>
      val fs = fsOf(spark, tmp)
      delta.foreach(_.write.mode("overwrite").parquet(s"$tmp/edges_delta"))
      bucketed.foreach { case (sub, df, touched) =>
        df
          // one shuffle on the partition column so each bucket lands as ONE
          // file — a plain partitionBy write emits a file per (task, bucket)
          // pair, and 32 tasks x 64 buckets of tiny files taxes every later
          // pruned read (measured 2-3x on the store rows at sf0.1)
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$tmp/$sub")
        var schemaSeeded = false
        touched.foreach { b =>
          val d = new Path(s"$tmp/$sub/bucket=$b")
          if (!fs.exists(d)) {
            // emptied bucket: swap an empty dir in — but seed the FIRST one
            // with a schema-bearing empty parquet (limit 0 collapses to an
            // empty relation, nothing evaluates), so a mutation emptying
            // every populated bucket still leaves a readable tree
            if (!schemaSeeded) {
              df.drop("bucket").limit(0).write.parquet(d.toString)
              schemaSeeded = true
            } else fs.mkdirs(d)
          }
        }
      }
      stamp.foreach(n => writeSmallFile(spark, s"$tmp/stamp", n.toString))
      writeSmallFile(
        spark,
        s"$tmp/op",
        s"$op\n$deltaTarget\n${if (replaceTarget) "replace" else "append"}\n" +
          s"${bucketed.map(_._1).mkString(",")}\n${if (clearTombs) "clear_tombstones" else "-"}")
    }

  /** Move every part file under `from` (recursing into partition dirs)
    * to the same relative place under `to`. A moved file vanishes from
    * the staged side and keeps its job-unique name, so a re-run after a
    * crash moves only the remainder.
    */
  private def appendFiles(fs: FileSystem, from: Path, to: Path): Unit = {
    if (!fs.exists(to)) fs.mkdirs(to)
    fs.listStatus(from).foreach { f =>
      val dst = new Path(to, f.getPath.getName)
      if (f.isDirectory) appendFiles(fs, f.getPath, dst)
      else if (f.getPath.getName.startsWith("part-")) {
        if (fs.exists(dst)) fs.delete(dst, true) // same attempt re-applied
        require(fs.rename(f.getPath, dst), s"apply move ${f.getPath} -> $dst failed")
      }
    }
  }

  /** Fold a COMMITTED staged tree into the live dirs; idempotent, so a
    * crash anywhere inside re-applies cleanly on the next call. Without a
    * manifest every staged tree appends into its live twin. With one, the
    * delta appends or replaces its target (a replace is
    * delete-then-rename, so a re-run after the delete just renames), each
    * bucket of a bucketed sub swaps the same way, the stamp swaps, and the
    * tombstones clear when flagged.
    */
  private def applyStaged(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val staged = s"$path/staged"
    def swap(from: Path, to: Path): Unit = {
      if (fs.exists(to)) fs.delete(to, true)
      require(fs.rename(from, to), s"apply swap $from -> $to failed")
    }
    readSmallFile(spark, s"$staged/op") match {
      case None =>
        fs.listStatus(new Path(staged)).filter(_.isDirectory).foreach(d =>
          appendFiles(fs, d.getPath, new Path(path, d.getPath.getName)))
      case Some(manifest) =>
        val lines = manifest.split("\n", 5)
        val (deltaTarget, mode) = (lines(1), lines(2))
        // line 4: comma-joined bucketed subs — absent (a legacy 3-line
        // manifest) means the original single "support" tree; explicitly
        // empty (the compaction path) means none
        val bucketSubs: Seq[String] =
          if (lines.length <= 3) Seq("support")
          else lines(3).split(",").filter(_.nonEmpty).toSeq
        val flags = if (lines.length > 4) lines(4) else "-"
        val deltaDir = new Path(s"$staged/edges_delta")
        if (fs.exists(deltaDir)) {
          val target = new Path(s"$path/$deltaTarget")
          if (mode == "replace") swap(deltaDir, target)
          else {
            appendFiles(fs, deltaDir, target)
            fs.delete(deltaDir, true)
          }
        }
        bucketSubs.foreach { sub =>
          val supDir = new Path(s"$staged/$sub")
          if (fs.exists(supDir)) {
            if (!fs.exists(new Path(s"$path/$sub"))) fs.mkdirs(new Path(s"$path/$sub"))
            fs.listStatus(supDir)
              .filter(d => d.isDirectory && d.getPath.getName.startsWith("bucket="))
              .foreach(d => swap(d.getPath, new Path(s"$path/$sub/${d.getPath.getName}")))
            fs.delete(supDir, true)
          }
        }
        // the stream store's exactly-once stamp swaps inside the same apply
        val stampFile = new Path(s"$staged/stamp")
        if (fs.exists(stampFile)) swap(stampFile, new Path(s"$path/support_stamp"))
        if (flags.contains("clear_tombstones")) clearTombstones(spark, path)
    }
    deleteDir(spark, staged)
  }

  // ---- repair ----

  /** What one store's [[repair]] does differently: `refuse` maps each op
    * whose interrupted run the store cannot finish for it to the remedy
    * its refusal states; `rollForward` lists the live dirs whose complete
    * `.compacting` twins roll forward; `lostFails` says whether a lost
    * live dir with an incomplete twin refuses (the dir alone held the
    * content) or drops.
    */
  final case class Repair(
      store: String,
      refuse: Seq[(String, String)],
      rollForward: Seq[String],
      lostFails: Boolean)

  /** The entry-point repair every incremental mutator runs first — the
    * followable form of "re-run the interrupted op" (see the object doc).
    * `resuming` names the caller's own op when its re-run IS the repair
    * (a relayout, a stream batch overwriting its own generation): a
    * marker naming it is left for the caller to finish.
    */
  def repair(spark: SparkSession, path: String, r: Repair, resuming: String = ""): Unit =
    inflightOp(spark, path) match {
      case None =>
        // no marker ⇒ any tmp is pre-mark garbage from a crashed stage
        deleteDir(spark, s"$path/staged.compacting")
      case Some(op) if resuming.nonEmpty && op.contains(resuming) => ()
      case Some(op) =>
        r.refuse.find { case (o, _) => op.contains(o) }.foreach { case (o, remedy) =>
          throw new IllegalStateException(
            s"${r.store} at $path has an interrupted '$o' (inflight marker present) — $remedy")
        }
        if (storeExists(spark, s"$path/staged")) applyStaged(spark, path)
        deleteDir(spark, s"$path/staged.compacting")
        r.rollForward.foreach(sub => rollForwardOrDrop(spark, s"$path/$sub", r.lostFails))
        clearInflight(spark, path)
    }
}
