package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Typed readers for the driver-generated parquet fixture tables
  * (`TESTDATA.md`, schemas in `FIXTURES.md`). All queries read through
  * here so that table access is uniform: a plain parquet scan whose
  * filters/projections Catalyst pushes into the scan (`PushedFilters`,
  * `ReadSchema`). At 100 TB the same call sites would point at a
  * partitioned table root; nothing in the query code assumes local
  * paths beyond the `sfDir` argument.
  *
  * The reference's only source was a `TextInputFormat` line scan
  * (reference `driver.java:161,164`); parquet + column pruning replaces
  * it per SURVEY §2.A A1.
  */
object Tables {
  /** Session-level reader configuration every graft entry point applies
    * at session build (see [[session]]). Readers in this object are
    * pure — none mutates session state as a side effect.
    */
  val sessionConfs: Map[String, String] = Map(
    // Accept TIMESTAMP(NANOS) parquet (which Spark's reader otherwise
    // rejects outright) as a raw ns epoch long; [[eventsUs]] folds it
    // into the canonical µs view. Micros fixtures ignore this conf.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Pin the session zone so TIMESTAMP_NTZ → epoch conversion (and
    // the DuckDB oracle, which runs in a UTC container) agree on what
    // instant a wall-clock value denotes, on any host zone.
    "spark.sql.session.timeZone" -> "UTC")

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The session every graft entry point runs on: `local[cores]`, as
    * many shuffle partitions as cores, UI off, and [[sessionConfs]].
    */
  def session(cores: String): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Raw events scan. `ts`'s Spark-side type depends on the parquet
    * physical type the fixture generator chose — TIMESTAMP_NTZ for
    * plain µs (the current fixtures), TIMESTAMP for µs-adjusted-UTC,
    * or BIGINT nanos under [[sessionConfs]]'s `nanosAsLong` when the
    * file is TIMESTAMP(NANOS) (earlier fixture generations). Queries
    * that only ORDER or EQUI-GROUP on `ts` may read it as-is; anything
    * doing epoch/interval ARITHMETIC must go through [[eventsUs]] so
    * the math is precision-portable.
    */
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Canonical microsecond view of the events table: identical to
    * [[events]] but with `ts` replaced by `ts_us: BIGINT` — epoch
    * microseconds, wall-clock-as-UTC — whatever the parquet physical
    * timestamp type was. All event-time arithmetic (session gaps,
    * time buckets, decay ages, interval unions) is integer µs math on
    * this column: exact (no double rounding of large epochs), engine-
    * portable (DuckDB's `epoch_us(ts)` / `epoch_ns(ts)//1000` produce
    * the same integers), and independent of the fixture's precision.
    */
  def eventsUs(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.select(col("event_id"), tsToUs(df.schema("ts").dataType, "ts").as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** Epoch-µs projection of a timestamp-ish column, by scanned type:
    * BIGINT is epoch ns (the `nanosAsLong` bridge) → integer-divide —
    * never float-divide: epoch ns ≈ 1.7e18 overflows a double's 53-bit
    * mantissa; TIMESTAMP is an instant → `unix_micros`; TIMESTAMP_NTZ
    * is a wall clock → interpreted as UTC (the session zone pinned in
    * [[sessionConfs]], matching the oracle's reading of the same file).
    */
  def tsToUs(dt: DataType, colName: String): Column = dt match {
    case LongType => expr(s"$colName div 1000")
    case TimestampType => unix_micros(col(colName))
    case TimestampNTZType => unix_micros(col(colName).cast(TimestampType))
    case other =>
      throw new IllegalStateException(
        s"events.$colName: unsupported timestamp physical type $other")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Re-spread a SMALL input across the session's cores before an
    * EXPLOSIVE downstream operation (a per-row explode/join whose
    * output dwarfs its input). A tiny parquet file scans as one split
    * (openCostInBytes packing + single row group), so everything up
    * to the first exchange runs on one core however many the session
    * has — guide §2.6's idle-capacity problem in scan form, measured
    * directly: q237's candidate join ran its 11.9M-row expansion in
    * 1-2 tasks. The explicit numPartitions pins the exchange against
    * AQE coalescing (post-shuffle bytes are tiny BECAUSE the blow-up
    * happens after). Scale-safe by the gate: a real-scale table scans
    * as ≥ cores splits already and passes through untouched — the
    * repartition only ever fires on inputs smaller than the cluster,
    * where its shuffle cost is by definition negligible.
    */
  private[graft] def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  /** Exact table row count from parquet FOOTER metadata only — a
    * driver-side read of each file's footer (a few KB), no Spark job,
    * no column data touched. At 100 TB a `df.count()` for a single
    * scalar (q183's adaptive k) is a full extra pass over the table;
    * the footers already carry the answer. Handles both a single
    * parquet file (the fixtures) and a directory of part files (a real
    * table root); `_`/`.`-prefixed entries (_SUCCESS, hidden files)
    * are skipped like Spark's own listing does.
    */
  def parquetRowCount(s: SparkSession, d: String, name: String): Long =
    withParquetFooters(s, s"$d/$name.parquet")(_.getRecordCount).sum

  /** Exact global [min, max] of an integral column from parquet FOOTER
    * statistics — same no-data-pass contract as [[parquetRowCount]]
    * (parquet min/max stats are exact for integer physical types, so
    * this is the true range, not an estimate). Used where a query
    * needs the domain of a column to build a layout key (q190's
    * Z-order quantization grid): at 100 TB an `agg(min, max)` for two
    * scalars is an extra pass over the column; every footer already
    * carries the block-level answer. Throws if any block lacks stats
    * (no silent wrong grid from a stats-less writer).
    */
  def parquetColumnMinMaxLong(s: SparkSession, d: String, name: String,
      column: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val ranges = withParquetFooters(s, s"$d/$name.parquet") { r =>
      r.getFooter.getBlocks.asScala.map { b =>
        val c = b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(throw new IllegalArgumentException(
            s"$name: no column $column in parquet footer"))
        val st = c.getStatistics
        require(st != null && !st.isEmpty && st.hasNonNullValue,
          s"$name.$column: parquet block lacks min/max statistics")
        def asLong(v: Any): Long = v match {
          case l: java.lang.Long => l
          case i: java.lang.Integer => i.toLong
          case o => throw new IllegalArgumentException(
            s"$name.$column: non-integral parquet stats type ${o.getClass}")
        }
        (asLong(st.genericGetMin), asLong(st.genericGetMax))
      }.toSeq
    }.flatten
    require(ranges.nonEmpty, s"$name.$column: no parquet blocks")
    (ranges.map(_._1).min, ranges.map(_._2).max)
  }

  /** Opens each data file under `path` (a single parquet file or a
    * directory of part files; `_`/`.`-prefixed entries skipped like
    * Spark's own listing) and folds `f` over its footer reader.
    */
  private def withParquetFooters[A](s: SparkSession, path: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): Seq[A] = {
    import org.apache.hadoop.fs.Path
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def files(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filterNot { c =>
            val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".")
          }
          .flatMap(files)
      else Seq(st)
    files(fs.getFileStatus(root)).map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try f(r) finally r.close()
    }
  }
}

/** One registrable slice of the engine: named queries plus (where the
  * semantics are deterministic ANSI SQL) a DuckDB oracle twin. Modules
  * are concatenated by [[SparkEntry]]. Contract per SURVEY §2.B:
  * every oracle query ends with a total ORDER BY, aliases every
  * computed column identically on both sides, and rounds/decimal-casts
  * float aggregates so both engines agree bit-for-bit.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
