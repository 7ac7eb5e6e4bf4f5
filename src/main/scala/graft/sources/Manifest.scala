package graft.sources

import org.apache.spark.sql.SparkSession

/** VERSIONED single-file manifest for persistent stores, and the batch
  * ledger it carries. It serves the ten incremental stores:
  * [[graft.operators.Sketches]], [[graft.operators.Quantiles]],
  * [[graft.operators.HeavyHitters]] and [[graft.operators.AggStore]]
  * (through [[PartialsStore]]), [[graft.operators.CentroidStore]],
  * [[graft.operators.GoldenStore]], [[graft.operators.ErStore]],
  * [[graft.operators.TextIndex]], [[graft.functions.IvfStore]] and
  * [[graft.functions.IvfPqStore]].
  *
  * The crash-safe visibility protocol: the manifest is the LAST write of
  * every ingest path (data without a manifest entry is invisible and
  * replay-convergent), and a swap writes version n+1 BEFORE deleting n,
  * so there is never an instant with zero visible manifests — readers
  * pick the highest version, and a crash between the two steps just
  * leaves a stale lower version for the next swap to sweep.
  *
  * The ledger rules ([[Batches]], [[sweep]]): client batch ids are
  * non-negative, compaction generations negative; a compaction folds
  * every visible batch into the next generation, retires the folded
  * client ids as tombstones, swaps the manifest, and sweeps the
  * superseded `ab=` partition dirs last.
  */
private[graft] object Manifest {

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Marker files `<dir>/<prefix>.<n>` as (version, path), ascending. */
  def versions(fs: org.apache.hadoop.fs.FileSystem, dir: String,
               prefix: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val d = hPath(dir)
    if (!fs.exists(d)) return Seq.empty
    val p = prefix + "."
    fs.listStatus(d).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (s.isFile && name.startsWith(p) && !name.endsWith("__tmp"))
        name.stripPrefix(p).toLongOption.map(_ -> s.getPath)
      else None
    }.sortBy(_._1)
  }

  def exists(spark: SparkSession, dir: String, prefix: String): Boolean =
    versions(fsOf(spark, dir), dir, prefix).nonEmpty

  /** Content of the HIGHEST manifest version; IllegalArgumentException
    * when none exists. */
  def read(spark: SparkSession, dir: String, prefix: String): String = {
    val fs = fsOf(spark, dir)
    val vs = versions(fs, dir, prefix)
    require(vs.nonEmpty, s"no manifest $prefix at $dir")
    val in = fs.open(vs.last._2)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write version max+1 (tmp + rename), then delete older versions. */
  def write(spark: SparkSession, dir: String, prefix: String,
            content: String): Unit = {
    val fs = fsOf(spark, dir)
    val old = versions(fs, dir, prefix)
    val next = old.lastOption.map(_._1 + 1).getOrElse(1L)
    val dst = hPath(dir + "/" + prefix + "." + next)
    val tmp = hPath(dir + "/" + prefix + "." + next + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"rename $tmp -> $dst failed; current manifest is intact")
    old.foreach { case (_, p) => fs.delete(p, false) } // new version durable
  }

  /** Drop every version — the store reads as absent afterwards. */
  def clear(spark: SparkSession, dir: String, prefix: String): Unit = {
    val fs = fsOf(spark, dir)
    versions(fs, dir, prefix).foreach { case (_, p) => fs.delete(p, false) }
  }

  /** Delete the data directories `dirs` recursively — a rebuild-in-place
    * drops its layers after clearing the manifest that made them
    * visible. */
  def deleteDirs(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.map(hPath).foreach { d =>
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(d)) fs.delete(d, true)
    }

  /** A store's batch ledger: the VISIBLE batch ids and the RETIRED
    * tombstones. Client appends carry ids >= 0 (a Spark micro-batch id
    * as is, or a base build's 0); compaction generations are < 0.
    * `retired` keeps client ids a compaction folded away recognizable as
    * completed replays, so a micro-batch replayed after its data was
    * folded stays a no-op instead of double-counting (the streaming-sink
    * idempotency contract survives compaction). */
  final case class Batches(visible: Seq[Long], retired: Seq[Long] = Nil) {

    /** `id` was applied already: visible, or folded into a generation. */
    def isReplay(id: Long): Boolean =
      visible.contains(id) || retired.contains(id)

    /** The ledger after a client append of `id`. A negative id would
      * collide with a compaction generation, so it is refused. */
    def add(id: Long): Batches = {
      require(id >= 0, s"batchId must be >= 0, got $id (negative ids " +
        "are compaction generations)")
      copy(visible = visible :+ id)
    }

    /** The ledger after folding every visible batch into the next
      * generation, `min(0, min visible) - 1`: that generation is the one
      * visible batch, and the folded client ids join the tombstones
      * (generations need none — a replay never carries one). */
    def compacted: Batches =
      Batches(Seq((0L +: visible).min - 1L),
        (retired ++ visible.filter(_ >= 0)).distinct)

    /** The manifest line: "v1 v2 | r1 r2", or "v1 v2" with no
      * tombstones. */
    def line: String =
      visible.mkString(" ") +
        (if (retired.isEmpty) "" else " | " + retired.mkString(" "))
  }

  object Batches {
    val empty: Batches = Batches(Nil)

    /** Inverse of [[Batches.line]]. Old manifests without the separator
      * parse as (ids, no tombstones). */
    def parse(line: String): Batches = {
      val toks = line.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val (vis, rest) = toks.span(_ != "|")
      Batches(vis.map(_.toLong), rest.drop(1).map(_.toLong))
    }
  }

  /** The `ab=<id>` batch partition dirs directly under `dir`. */
  private def batchDirs(spark: SparkSession,
                        dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = fsOf(spark, dir)
    val root = hPath(dir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ab="))
  }

  /** True when `dir` holds at least one `ab=` batch partition — an
    * all-empty-batches overwrite leaves only a _SUCCESS skeleton, which
    * parquet cannot infer a schema from. */
  def hasBatchDirs(spark: SparkSession, dir: String): Boolean =
    batchDirs(spark, dir).nonEmpty

  /** The last, best-effort step of a compaction, after the manifest swap
    * made generation `keep` the only visible batch: delete every numeric
    * `ab=<id>` dir under `roots` except `ab=<keep>`. Files and
    * non-numeric names stay. A crash here leaves unreachable orphans for
    * the next compaction. */
  def sweep(spark: SparkSession, roots: Seq[String], keep: Long): Unit =
    roots.foreach { root =>
      val fs = fsOf(spark, root)
      batchDirs(spark, root).foreach { s =>
        if (s.getPath.getName.stripPrefix("ab=").toLongOption
            .exists(_ != keep))
          fs.delete(s.getPath, true)
      }
    }
}
