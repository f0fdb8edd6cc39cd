package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

/** The one harness of graft's runners — [[Bench]], [[Verify]] and the
  * measurement tools under `src/test/scala/graft/tools`: one session
  * builder, one way to run a query to completion, and [[QueryMeter]].
  */
object Harness {

  /** The runners' session: `local[$SPARK_GRAFT_CPUS]` (default 32), one
    * shuffle partition per core, UTC, no UI, WARN logging.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session conf overrides for a tool's A/B arms,
    * `SPARK_GRAFT_PROBE_CONF="k=v;k2=v2"`; each one set is echoed as
    * `[probe] set k=v`. Entries without `=` are ignored.
    */
  def applyProbeConf(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach { kvs =>
      kvs.split(";").map(_.split("=", 2)).foreach {
        case Array(k, v) => spark.conf.set(k, v); println(s"[probe] set $k=$v")
        case _ => ()
      }
    }

  /** Run `df` to completion, EVERY output column, through the noop sink.
    * Timing `count()` lets Catalyst prune whatever count(1) does not
    * reference — aggregate expressions above the grouping keys, final
    * projections, whole subtrees behind a multiplicity-preserving join —
    * so expression-heavy queries were under-measured (q_line_dedup's
    * md5-rebuild pipeline pruned to a 115-byte shuffle). The noop sink runs
    * the full plan including final sorts, like a real consumer, and
    * discards rows at the writer.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JVM and session warm-up, so the first measured query does not absorb
    * context and codegen start-up. A range sum alone is too narrow: the
    * first scheduled query once timed 7.3 s against 0.6 s on rerun because
    * parquet footer/reader init, whole-stage codegen of a
    * scan → hash-aggregate and the noop writer were all still cold. So the
    * warm-up runs exactly that shape twice (the second run hits the codegen
    * cache); a missing `customer` table skips that part.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (_ <- 1 to 2)
      try materialize(spark.read.parquet(s"$sfDir/customer.parquet")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("c_acctbal").as("s")))
      catch { case NonFatal(_) => () }
  }
}

/** The one SparkListener of graft: a record per Spark job, with the job's
  * call site, job group, wall time, task count, executor run time, shuffle
  * write and read bytes, and input records. A task counts toward the job
  * that first submitted its stage.
  *
  * Shuffle bytes and records are properties of the PLAN: a lost broadcast
  * or partial aggregation shows up as bytes at once, immune to the host
  * contention that makes wall-clock comparisons need reruns. Input
  * records, not bytes: the local-fs parquet path reports only footer bytes
  * to `inputMetrics.bytesRead`, but row counts are exact.
  *
  * Listener events arrive asynchronously; [[measure]] runs [[drain]]
  * before and after its body, which waits until the bus has delivered
  * everything posted so far, so a sample's last tasks land in ITS window,
  * not the next one's.
  */
final class QueryMeter(spark: SparkSession) extends SparkListener
    with AutoCloseable {
  import QueryMeter._

  private val sc = spark.sparkContext
  private val records = mutable.ArrayBuffer.empty[Job]
  private val byJob = mutable.HashMap.empty[Int, Int]   // job id -> records index
  private val byStage = mutable.HashMap.empty[Int, Int] // stage id -> records index

  /** Per-name counts of failed [[sample]]s. */
  val failures: mutable.Map[String, Int] = mutable.Map.empty

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the result stage, created last, is named after the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    byJob(e.jobId) = records.size
    e.stageIds.foreach(s => if (!byStage.contains(s)) byStage(s) = records.size)
    records += Job(e.jobId, site, group, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach(i =>
      records(i) = records(i).copy(wallMs = e.time - records(i).startMs))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { i =>
      val j = records(i)
      val m = e.taskMetrics
      records(i) =
        if (m == null) j.copy(tasks = j.tasks + 1)
        else j.copy(tasks = j.tasks + 1, runMs = j.runMs + m.executorRunTime,
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          inputRecords = j.inputRecords + m.inputMetrics.recordsRead)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far;
    * throws `TimeoutException` after two minutes.
    */
  def drain(): Unit = GraftBridge.drainListenerBus(sc, 120000L)

  /** Wall time of `body` and the jobs it started. A failure propagates. */
  def measure(body: => Unit): Sample = {
    drain()
    val from = synchronized(records.size)
    val t0 = System.nanoTime()
    body
    val wallS = (System.nanoTime() - t0) / 1e9
    drain()
    Sample(wallS, synchronized(records.drop(from).toSeq))
  }

  /** [[measure]] for a runner's sample of query `name`. A sample that
    * throws is a failure, not a time — a fast exception path must not win
    * as a min: it counts in [[failures]], its cause goes to stderr, and
    * the result is None.
    */
  def sample(name: String)(body: => Unit): Option[Sample] =
    try Some(measure(body))
    catch {
      case NonFatal(e) =>
        failures(name) = failures.getOrElse(name, 0) + 1
        System.err.println(s"[meter] $name sample FAILED: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }

  /** Detach from the SparkContext. */
  override def close(): Unit = sc.removeSparkListener(this)
}

object QueryMeter {

  /** One Spark job; `wallMs` is -1 while it runs. */
  final case class Job(id: Int, callSite: String, group: String,
      startMs: Long, wallMs: Long = -1L, tasks: Int = 0, runMs: Long = 0L,
      shuffleWriteBytes: Long = 0L, shuffleReadBytes: Long = 0L,
      inputRecords: Long = 0L)

  /** One measured body: its wall seconds and the jobs it started. */
  final case class Sample(wallS: Double, jobs: Seq[Job]) {
    def tasks: Int = jobs.map(_.tasks).sum
    def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
    def shuffleReadBytes: Long = jobs.map(_.shuffleReadBytes).sum
    def inputRecords: Long = jobs.map(_.inputRecords).sum
  }
}
