package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink layer: how the engine lands data.
  *
  * The reference writes to Postgres row-at-a-time in 1000-row batches
  * (load.py:18-22); the engine's native sink is partitioned parquet, with
  * merge semantics expressed as recompute plans ([[graft.operators.Merge]])
  * + partition overwrite. JDBC remains available for compat via
  * `df.write.jdbc` with `foreachPartition`-style batching handled by Spark.
  *
  * 100 TB rules encoded here:
  *  - partition by a natural key of bounded cardinality (date, region) so
  *    merge rewrites touch only affected partitions (dynamic overwrite);
  *  - target file size via repartition before write (small-files problem);
  *  - no coalesce(1)-style driver funnels outside tests.
  */
object Sinks {

  /** Append (reference ON CONFLICT-free INSERT path). */
  def appendParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Overwrite only the partitions present in `df` (dynamic partition
    * overwrite) — the scalable form of the reference's keyed UPDATE: the
    * merge plan recomputes affected partitions, this lands them. The mode
    * is a per-write option, which takes precedence over the session's
    * `spark.sql.sources.partitionOverwriteMode`, so concurrent writers
    * (each streaming query runs its batches on its own thread) never see
    * each other's mode. */
  def overwritePartitions(df: DataFrame, path: String, partitionBy: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)

  private def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                            src: org.apache.hadoop.fs.Path,
                            to: org.apache.hadoop.fs.Path,
                            intactAt: => org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, to))
      throw new java.io.IOException(s"rename $src -> $to failed; " +
        s"existing data is intact at $intactAt")

  /** Crash recovery at entry for the tmp/old swap protocol: if a prior run
    * died between parking dst at `__graft_old` and promoting tmp,
    * `__graft_old` holds the only full copy and dst is absent — restore it
    * first (and discard the dead run's tmp, whose contents may be partial).
    * `__graft_old` is only garbage when dst exists. */
  private def recoverInterruptedSwap(fs: org.apache.hadoop.fs.FileSystem,
                                     dst: org.apache.hadoop.fs.Path,
                                     tmp: org.apache.hadoop.fs.Path,
                                     old: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(dst) && fs.exists(old)) {
      fs.delete(tmp, true)
      renameOrThrow(fs, old, dst, old)
    }

  /** Promote a fully-written tmp dir over dst. Swap order keeps a primary
    * copy at every step (old data is parked at `__graft_old`, never deleted
    * before the new data is in place) and every rename's boolean result is
    * checked — rename can return false without throwing (e.g. object-store
    * FileSystem impls), which round 1 silently ignored. */
  private def promoteSwap(fs: org.apache.hadoop.fs.FileSystem,
                          dst: org.apache.hadoop.fs.Path,
                          tmp: org.apache.hadoop.fs.Path,
                          old: org.apache.hadoop.fs.Path): Unit = {
    val hadExisting = fs.exists(dst)
    if (hadExisting) {
      fs.delete(old, true) // stale leftover; dst holds the data, safe to clear
      renameOrThrow(fs, dst, old, dst)
    }
    renameOrThrow(fs, tmp, dst, if (fs.exists(dst)) dst else old)
    if (hadExisting) fs.delete(old, true)
  }

  /** Upsert-to-storage: read current state, apply Merge.upsert, rewrite.
    * The stored table is an unpartitioned parquet directory, as this sink
    * writes it; its schema comes from one data file's footer
    * ([[storedTable]]), so the upsert runs no schema-inference job, and a
    * stored table whose columns differ from `updates` fails the merge
    * before anything is written. At scale, pair with `partitionBy` on the
    * merge key's partition column and [[overwritePartitions]]. */
  def upsertParquet(updates: DataFrame, path: String, keys: Seq[String],
                    tiebreak: Seq[org.apache.spark.sql.Column]): Unit = {
    val spark = updates.sparkSession
    val dst = new org.apache.hadoop.fs.Path(path)
    // resolve the filesystem FROM THE PATH (hdfs://, s3a://, file:, ...) —
    // a java.io.File check would silently miss non-local targets and drop
    // the existing table from the merge
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__graft_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__graft_old")
    recoverInterruptedSwap(fs, dst, tmp, old)
    // the first write stores the key columns first too, the order every
    // later merge writes, so a table's column order never changes
    val merged =
      if (fs.exists(dst))
        graft.operators.Merge.upsert(storedTable(spark, fs, dst), updates, keys, tiebreak)
      else updates.select((keys ++ updates.columns.filterNot(keys.contains)).map(col): _*)
    // write via temp dir then swap: parquet sinks can't read-and-overwrite
    // the same path in one job
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    promoteSwap(fs, dst, tmp, old)
  }

  /** The parquet table at `dir`, read with the schema of the footer of its
    * first data file by name (a top-level file whose name does not start
    * with `_` or `.`). That is the file Spark's own non-merging inference
    * reads, and the frame has the schema `spark.read.parquet` infers, but
    * the footer is read here on the driver instead of in a one-task job. */
  private[sources] def storedTable(spark: org.apache.spark.sql.SparkSession,
                                   fs: org.apache.hadoop.fs.FileSystem,
                                   dir: org.apache.hadoop.fs.Path): DataFrame = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val data = fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val file = if (data.isEmpty) throw new java.io.FileNotFoundException(
      s"no parquet data file in $dir to read the stored table's schema from")
      else data.minBy(_.getPath.getName)
    val conf = spark.sparkContext.hadoopConfiguration
    val options = org.apache.parquet.HadoopReadOptions.builder(conf)
      .withMetadataFilter(
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .build()
    val reader = ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf), options)
    val footer = try reader.getFooter finally reader.close()
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(sqlConf))
    spark.read.schema(schema).parquet(dir.toString)
  }

  /** In-place compaction of a (possibly partitioned) parquet table: rewrite
    * down to one file per partition directory (or `targetFiles` files for an
    * unpartitioned table) through the same crash-safe tmp/swap protocol as
    * [[upsertParquet]]. The maintenance pass for append-heavy tables —
    * per-micro-batch streaming appends otherwise grow an unbounded file
    * count (the classic small-files problem: at 100 TB, listing cost and
    * per-file open overhead dominate before data volume does). No-op if the
    * table does not exist. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     partitionBy: Seq[String] = Nil, targetFiles: Int = 8): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__graft_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__graft_old")
    recoverInterruptedSwap(fs, dst, tmp, old)
    if (!fs.exists(dst)) return
    val cur = spark.read.parquet(path)
    // hash-repartition on the partition columns: each directory's rows land
    // in exactly one task, so each directory compacts to exactly one file
    val compacted =
      if (partitionBy.nonEmpty) cur.repartition(partitionBy.map(col): _*)
      else cur.repartition(math.max(targetFiles, 1))
    val w = compacted.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    promoteSwap(fs, dst, tmp, old)
  }

  /** Batched upsert over JDBC — the reference's actual sink shape
    * (Postgres INSERT .. ON CONFLICT in 1000-row batches, load.py:18-22,
    * 113-125), generalized: Spark's own `df.write.jdbc` only appends or
    * overwrites, so merge-into-a-live-table needs a per-partition
    * executor-side protocol. Each partition opens one connection and runs
    * a portable two-phase batch: UPDATE the batch, then INSERT exactly the
    * rows the database reported as update-misses. No dialect-specific
    * upsert SQL → works against Postgres, Derby (the test harness), etc.
    *
    * Scale shape: work is distributed (one connection per partition, rows
    * stream through prepared-statement batches — nothing collects to the
    * driver); `repartition(n, keys)` upstream controls fan-in so the
    * database sees a bounded connection count, and key-hash partitioning
    * keeps concurrent writers on DISJOINT key sets (two partitions never
    * race on one key — the update-miss-then-insert window is single-writer
    * per key). Dedupe `df` by key first (Merge.upsert semantics assume one
    * row per key per run).
    *
    * A driver whose executeBatch returns SUCCESS_NO_INFO (-2) gives no
    * per-row miss signal; those rows fall back to per-row UPDATE probes.
    */
  def upsertJdbc(df: DataFrame, url: String, table: String, keys: Seq[String],
                 batchSize: Int = 1000,
                 properties: java.util.Properties = new java.util.Properties()): Unit = {
    val cols = df.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"upsert keys $keys must be columns of the frame (${cols.mkString(", ")})")
    val nonKeys = cols.filterNot(keys.contains)
    require(nonKeys.nonEmpty, s"upsertJdbc needs at least one non-key column to update")
    val updateSql = s"UPDATE $table SET ${nonKeys.map(c => s"$c = ?").mkString(", ")} " +
      s"WHERE ${keys.map(c => s"$c = ?").mkString(" AND ")}"
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val colIdx = cols.indices.toArray
    val updOrder = (nonKeys ++ keys).map(cols.indexOf).toArray
    df.foreachPartition { (rows: scala.collection.Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url, properties)
        try {
          conn.setAutoCommit(false)
          val upd = conn.prepareStatement(updateSql)
          val ins = conn.prepareStatement(insertSql)
          def bind(st: java.sql.PreparedStatement, row: org.apache.spark.sql.Row,
                   order: Array[Int]): Unit = {
            var i = 0
            while (i < order.length) {
              st.setObject(i + 1, row.get(order(i))); i += 1
            }
          }
          rows.grouped(batchSize).foreach { batch =>
            batch.foreach { r => bind(upd, r, updOrder); upd.addBatch() }
            val counts = upd.executeBatch()
            var i = 0
            while (i < batch.length) {
              counts(i) match {
                case 0 => bind(ins, batch(i), colIdx); ins.addBatch()
                case java.sql.Statement.SUCCESS_NO_INFO =>
                  // driver gave no miss signal: probe this row individually
                  bind(upd, batch(i), updOrder)
                  if (upd.executeUpdate() == 0) { bind(ins, batch(i), colIdx); ins.addBatch() }
                case _ => ()
              }
              i += 1
            }
            ins.executeBatch()
            conn.commit() // reference commits per batch (load.py:125)
          }
        } catch {
          case e: Throwable => try conn.rollback() catch { case _: Throwable => () }; throw e
        } finally conn.close()
      }
    }
  }

  /** Range-clustered parquet layout: range-repartition on `layoutKeys`
    * then sort within partitions before writing. Every file (and row
    * group) covers a disjoint key range, so parquet min/max statistics
    * make point/range filters on the layout key skip whole files — the
    * single highest-leverage layout decision for a 100 TB table that is
    * filtered on one dominant key (date, tenant, doc range). `files`
    * controls target file count (≈ size/file-size-goal). */
  def clusteredParquet(df: DataFrame, path: String, layoutKeys: Seq[String],
                       files: Int): Unit =
    df.repartitionByRange(files, layoutKeys.map(col): _*)
      .sortWithinPartitions(layoutKeys.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed (and optionally bucket-sorted) persistent table — the
    * co-located-join layout: two tables bucketed on the SAME keys with
    * the SAME bucket count sort-merge-join with NO shuffle on either
    * side (Spark plans bucket i against bucket i directly), and a
    * groupBy on the bucket keys aggregates shuffle-free too. THE
    * standard answer for a 100 TB fact table repeatedly joined on one
    * key (orders ⋈ lineitem): pay the bucketed write once, skip the
    * dominant exchange on every subsequent join — where
    * [[clusteredParquet]]/[[graft.operators.ZOrder.writeZOrdered]]
    * optimize SCAN pruning, bucketing optimizes JOIN placement; the same
    * hash-layout idea the engine's own stores use (SignatureStore /
    * TextIndex token buckets), surfaced for general tables.
    *
    * Bucketing metadata lives in the session catalog (`saveAsTable` —
    * plain `parquet(path)` cannot carry it); `path` makes the table
    * external so the data outlives the catalog entry. Read back with
    * `spark.table(table)`. `sortKeys` presorts each bucket file,
    * letting the join skip its Sort when they match the join keys and
    * each bucket holds one file (write with one task per bucket —
    * repartition on the bucket keys first — to guarantee that). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketKeys: Seq[String], numBuckets: Int,
                    sortKeys: Seq[String] = Nil): Unit = {
    require(bucketKeys.nonEmpty, "bucketKeys must be non-empty")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val base = df.write.format("parquet").mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(numBuckets, bucketKeys.head, bucketKeys.tail: _*)
    val w = if (sortKeys.nonEmpty) base.sortBy(sortKeys.head, sortKeys.tail: _*)
            else base
    w.saveAsTable(table)
  }
}
