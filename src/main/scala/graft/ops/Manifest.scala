package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-footer manifests — the data-skipping health report of a store.
  *
  * Every parquet file footer already carries per-row-group row counts and
  * per-column min/max statistics; row-group skipping (and [[Layout]]'s
  * whole design of sorting rows inside files) is only as good as those
  * stats are TIGHT. This reads footers ONLY — a metadata scan of a 100 TB
  * store touches a few KB per file, distributed over the executors (one
  * task per batch of files), never a data page — and reports, per
  * (file, row group): row count, min, max of a chosen column. From that a
  * caller sees immediately whether ranges overlap (skipping degraded —
  * time to [[Layout.compact]]) or are disjoint (every point lookup prunes
  * to one group).
  *
  * Stats are reported as STRINGS in parquet's logical-type reading
  * (the same surface DuckDB's parquet_metadata exposes, which the
  * q_manifest oracle hash-matches against our decode).
  */
object Manifest {

  /** One row per (file, row group) of `path` — a single `.parquet` file
    * or a directory tree of them (partition directories included; dot/
    * underscore entries skipped like Spark's file index). Columns:
    * file (basename), row_group, n_rows, min_value, max_value — stats
    * null when the footer carries none for `column`.
    */
  def manifest(spark: SparkSession, path: String, column: String): DataFrame = {
    val files = listParquet(Fs.path(path))
    require(files.nonEmpty, s"no parquet files under '$path'")
    footers(spark, files, column)
  }

  /** [[manifest]] over an explicit list of parquet files (a store's live
    * files, which its directories may hold older versions beside).
    */
  private[ops] def footers(spark: SparkSession, files: Seq[String],
      column: String): DataFrame = {
    import spark.implicits._
    val confProps = hadoopConfProps(spark)
    spark.sparkContext.parallelize(files, math.min(files.size, 32).max(1))
      .mapPartitions { it =>
        val conf = confFrom(confProps)
        it.flatMap(f => readFooter(f, column, conf))
      }
      .toDF("file", "row_group", "n_rows", "min_value", "max_value",
        "n_nulls")
      .orderBy("file", "row_group")
  }

  /** True iff no two row groups of the manifest overlap on
    * [min_value, max_value] when compared in the column's native order —
    * the "is my layout still skippable" one-liner. Stats compare
    * NUMERICALLY when every value parses as a number (integers, doubles,
    * decimals — lexicographic order would put "10.5" before "9.2"), else
    * lexicographically (strings).
    */
  def disjointRanges(m: DataFrame): Boolean = {
    // Vector, not Array: the Seq patterns below never match an Array
    val rows = m.select("min_value", "max_value").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1))).toVector
    val numeric = rows.forall { case (a, b) =>
      statNumber(a).isDefined && statNumber(b).isDefined }
    if (numeric) {
      val sorted = rows.map { case (a, b) => (BigDecimal(a), BigDecimal(b)) }
        .sortBy(_._1)
      sorted.sliding(2).forall {
        case Seq((_, hi), (lo, _)) => hi < lo
        case _ => true
      }
    } else {
      val sorted = rows.sortBy(_._1)
      sorted.sliding(2).forall {
        case Seq((_, hi), (lo, _)) => hi < lo
        case _ => true
      }
    }
  }

  /** Zonemap file pruning: the absolute paths of files under `path` with
    * at least one row group whose [min, max] on numeric `column` may
    * intersect [lo, hi] — the planner-side half of data skipping (parquet
    * row-group skipping prunes WITHIN the files this returns). Footers are
    * read distributed (same batching as [[manifest]]); only file names
    * come back to the driver, so the work is metadata-bound at any store
    * size. Conservative by construction: a file with no stats, or stats
    * that don't parse numerically, is always KEPT — pruning may only ever
    * skip provably-disjoint files, never rows.
    *
    * On a [[Partitioning.sortedLayout]] store the survivors of a narrow
    * range are O(1) files; on an unsorted store every file overlaps and
    * nothing prunes — [[disjointRanges]] is the health check for that.
    */
  def pruneFiles(spark: SparkSession, path: String, column: String,
      lo: BigDecimal, hi: BigDecimal): Seq[String] = {
    require(lo <= hi, s"pruneFiles: empty range [$lo, $hi]")
    val files = listParquet(Fs.path(path))
    require(files.nonEmpty, s"no parquet files under '$path'")
    val confProps = hadoopConfProps(spark)
    spark.sparkContext
      .parallelize(files, math.min(files.size, 32).max(1))
      .mapPartitions { it =>
        val conf = confFrom(confProps)
        it.filter { f =>
          readFooter(f, column, conf).exists { case (_, _, _, mn, mx, _) =>
            if (mn == null || mx == null) true // no stats: can't prove disjoint
            else (statNumber(mn), statNumber(mx)) match {
              case (Some(a), Some(b)) => !(b < lo || a > hi)
              case _ => true // non-numeric stats: cannot prove disjoint
            }
          }
        }
      }
      .collect().toSeq.sorted
  }

  /** A footer stat string as a number — integers, doubles and decimals
    * alike, so stats compare in the column's numeric order — or None when
    * it does not parse as one (strings, NaN, infinities).
    */
  private[ops] def statNumber(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  // the session's resolved Hadoop conf as a serializable property list —
  // executor-side footer reads must see the driver's fs.* settings
  // (credentials, endpoints) or any non-default scheme fails to resolve
  private def hadoopConfProps(spark: SparkSession): Array[(String, String)] = {
    val hc = spark.sessionState.newHadoopConf()
    val it = hc.iterator()
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    buf.toArray
  }

  private def confFrom(props: Array[(String, String)])
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def listParquet(p: org.apache.hadoop.fs.Path): Seq[String] = {
    val f = Fs.fs(p)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (st.isFile) {
        if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toString)
        else Seq.empty
      } else f.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith(".") ||
          c.getPath.getName.startsWith("_"))
        .flatMap(walk)
    if (!f.exists(p)) Seq.empty else walk(f.getFileStatus(p))
  }

  private def readFooter(file: String, column: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Int, Long, String, String, Long)] = {
    // `file` is a FileSystem listing's Path.toString — already a
    // round-trippable Hadoop path form, whatever the scheme
    val p = new org.apache.hadoop.fs.Path(file)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val name = p.getName
      reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map {
        case (block, i) =>
          val cc = block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"column '$column' not found in $file footer"))
          val st = cc.getStatistics
          val (mn, mx) =
            if (st == null || !st.hasNonNullValue) (null, null)
            else (statString(st.genericGetMin), statString(st.genericGetMax))
          // footer null count for the column; -1 = footer doesn't carry it
          // (consumers must treat unknown as "may hold nulls")
          val nulls =
            if (st == null || !st.isNumNullsSet) -1L else st.getNumNulls
          (name, i, block.getRowCount, mn, mx, nulls)
      }
    } finally reader.close()
  }

  private def statString(v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }
}
