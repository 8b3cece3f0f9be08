package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Table layout and snapshot IO over plain parquet: partitioned and
  * Z-ordered clustered writes for scan pruning, small-file compaction, and
  * the Iceberg snapshot model (SURVEY.md §7.1: Iceberg jars are not in
  * /opt/spark/jars, so its table operations are expressed here).
  */
object TableIO {

  // ------------------------------------------------------------------
  // Data layout for scan pruning. At 100 TB the fastest scan is the one
  // that never happens: hive-style partition dirs are eliminated at
  // planning time (PartitionFilters), and range-clustering the rows within
  // each partition gives every parquet row group a narrow min/max band on
  // the cluster key, so pushed predicates skip whole row groups at read
  // time. TableIOSpec measures both effects on FileSourceScanExec metrics.

  /** Range buckets of [[writePartitionedClustered]]; files and Morton bits
    * of [[writeZOrdered]]; the target file size of [[compact]]. */
  private val RangeBuckets = 8
  private val ZFiles = 8
  private val ZBits = 6
  private val CompactTargetBytes = 4L * 1024 * 1024

  /** Write with hive-style `partitionBy(partitionCol)` dirs, rows
    * range-clustered on `clusterCol` within each partition (one sorted
    * run per output file ⇒ tight per-row-group min/max stats).
    *
    * `RangeBuckets` is the TOTAL `repartitionByRange` bucket count across
    * ALL partition values, not per-dir — with V distinct partition values
    * each hive dir receives roughly `RangeBuckets / V` files. At 100 TB it
    * would follow the job's write parallelism (≈ total input bytes /
    * target file size, e.g. 512 MB files). */
  def writePartitionedClustered(df: DataFrame, path: String,
                                partitionCol: String, clusterCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(RangeBuckets, col(partitionCol), col(clusterCol))
      .sortWithinPartitions(col(partitionCol), col(clusterCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Morton/Z-order value: interleave the low `ZBits` bits of two
    * non-negative integer columns (x even positions, y odd). Pure integer
    * Column math — constant-folds to a chain of shift/and/or inside
    * whole-stage codegen, no UDF and no custom Expression needed. Inputs
    * are masked to `ZBits` bits so out-of-range values wrap rather than
    * corrupt the interleave. */
  def zValue(x: org.apache.spark.sql.Column,
             y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val xi = x.cast("long")
    val yi = y.cast("long")
    (0 until ZBits).map { i =>
      shiftleft(shiftright(xi, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yi, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order clustered layout: range-partition + sort the rows by the
    * Morton value of (`cx`, `cy`) so every output file / parquet row group
    * covers a compact 2-D tile of the key space. Unlike single-column
    * range clustering (tight min/max on ONE column only), BOTH columns get
    * narrow per-row-group stats, so a pushed box predicate on either — or
    * both — dimensions skips most row groups at read time. The Iceberg
    * analogue is `rewrite_data_files(strategy => 'sort', sort_order =>
    * 'zorder(cx, cy)')`; at 100 TB `ZFiles` would follow total bytes /
    * target file size as in [[writePartitionedClustered]]. */
  def writeZOrdered(df: DataFrame, path: String, cx: String, cy: String): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zValue(col(cx), col(cy)))
      .repartitionByRange(ZFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file COMPACTION — the Iceberg `rewrite_data_files` analogue and
    * the table-maintenance step every long-running ingest needs: streaming
    * micro-batches and per-task writers leave thousands of KB-sized files,
    * and at 10^12 docs the scan's task-scheduling and footer-read overhead
    * becomes O(files), not O(bytes). Rewrites `inPath` into
    * ceil(totalBytes / `CompactTargetBytes`) files via `coalesce` — a NARROW
    * rewrite (no exchange: compaction must not pay a shuffle; it only
    * merges splits). Returns the output file count. Row-group clustering
    * is `writePartitionedClustered`'s job — compose the two when both
    * layout and file count need fixing.
    *
    * Contract: `inPath` is ONE flat parquet directory (the census is
    * non-recursive, matching how Spark writes an unpartitioned table).
    * For a hive-partitioned layout, compact each `part=...` dir
    * separately — per-partition compaction is also what keeps the rewrite
    * incremental at 10^12 rows (only dirs with new small files pay). */
  def compact(spark: SparkSession, inPath: String, outPath: String): Int = {
    // Hadoop FS, not java.io: inPath is an HDFS/S3 prefix on a real cluster.
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(in)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val n = math.max(1L, (totalBytes + CompactTargetBytes - 1) / CompactTargetBytes)
      .toInt
    spark.read.parquet(inPath).coalesce(n)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    n
  }

  /** Copy-on-write SNAPSHOT commit — the Iceberg snapshot model over plain
    * parquet: each commit writes its data files under `v<version>/` and
    * publishes a manifest (`_manifests/v<version>.txt`) listing exactly
    * the files that snapshot reads. Data files are immutable once
    * committed; a new version never touches an old version's files, so
    * readers pinned to an older manifest are isolated from concurrent
    * commits (time travel). The manifest write is the commit point. */
  def commitSnapshot(df: DataFrame, table: String, version: Int): Unit = {
    val spark = df.sparkSession
    val dataDir = s"$table/v$version"
    df.write.mode(SaveMode.Overwrite).parquet(dataDir)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(s"$table/_manifests/v$version.txt")
    val out = fs.create(mPath, true)
    out.write((dataDir + "\n").getBytes("UTF-8"))
    out.close()
  }

  /** Snapshot expiry + orphan cleanup (Iceberg `expire_snapshots`): drop
    * every manifest except the newest `keepLast`, then delete data
    * directories no surviving manifest references. Readers pinned to an
    * expired version fail fast at manifest resolution (the time-travel
    * window shrank); latest-readers are untouched. Returns
    * (manifests expired, orphan data dirs deleted). */
  def expireSnapshots(spark: SparkSession, table: String,
                      keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val mDir = new org.apache.hadoop.fs.Path(s"$table/_manifests")
    val fs = mDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(mDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toInt).sorted
    val (expire, keep) = versions.splitAt(math.max(0, versions.length - keepLast))
    // surviving manifests' referenced paths (a dir may back several
    // versions under append-style commits; only truly orphaned dirs go)
    val referenced = keep.flatMap { v =>
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$table/_manifests/v$v.txt"))
      val paths = scala.io.Source.fromInputStream(in).getLines().toSeq
      in.close()
      paths
    }.toSet
    var orphans = 0
    expire.foreach { v =>
      val mPath = new org.apache.hadoop.fs.Path(s"$table/_manifests/v$v.txt")
      val in = fs.open(mPath)
      val paths = scala.io.Source.fromInputStream(in).getLines().toSeq
      in.close()
      fs.delete(mPath, false)
      paths.filterNot(referenced.contains).foreach { p =>
        if (fs.delete(new org.apache.hadoop.fs.Path(p), true)) orphans += 1
      }
    }
    (expire.length, orphans)
  }

  /** Time-travel read: load the file list of `version` (or the latest
    * committed version when None) from its manifest and read exactly
    * those files — a v1 reader sees v1 bytes even after v2 commits. */
  def readSnapshot(spark: SparkSession, table: String,
                   version: Option[Int] = None): DataFrame = {
    val mDir = new org.apache.hadoop.fs.Path(s"$table/_manifests")
    val fs = mDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(mDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toInt)
    val v = version.getOrElse(versions.max)
    require(versions.contains(v), s"no committed snapshot v$v in $table")
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$table/_manifests/v$v.txt"))
    val paths = scala.io.Source.fromInputStream(in).getLines().toSeq
    in.close()
    spark.read.parquet(paths: _*)
  }
}
