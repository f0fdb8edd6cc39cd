package graft.ops

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Fault injection through [[Fs.beforeMutation]]: `body` runs as a process
  * that dies at the `k`-th filesystem mutation under `root` (1-based).
  * That mutation and every later one under `root` throw [[Faults.Injected]]:
  * a dead process does nothing more, so no cleanup step of a failing
  * write runs either. Mutations elsewhere pass untouched.
  */
object Faults {
  final class Injected(msg: String) extends RuntimeException(msg)

  /** One run: the mutations seen under `root`, the `k`-th one (None when
    * the run never reached it) and what `body` threw.
    */
  final case class Run(mutations: Int, crashedAt: Option[String],
      error: Option[Throwable])

  def run(root: String, k: Int)(body: => Any): Run = {
    val n = new AtomicInteger(0)
    val at = new AtomicReference[String]()
    Fs.beforeMutation = (op, p) => {
      val path = p.toUri.getPath
      if (path == root || path.startsWith(root + "/")) {
        val i = n.incrementAndGet()
        if (i == k) at.set(s"$op $path")
        if (i >= k)
          throw new Injected(s"injected crash at mutation $i: $op $path")
      }
    }
    val error =
      try { body; None }
      catch { case e: Throwable => Some(e) }
      finally Fs.beforeMutation = (_, _) => ()
    Run(n.get, Option(at.get), error)
  }

  /** Mutations `body` makes under `root`, with no crash. */
  def count(root: String)(body: => Any): Int = {
    val r = run(root, Int.MaxValue)(body)
    r.error.foreach(throw _)
    r.mutations
  }

  def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Injected])
}

/** One crash model for the partitioned-store family: every store op, at
  * every crash point, leaves [[Layout.read]] — with no repair — on exactly
  * its pre-state or its post-state; [[PointerStore.recover]] then leaves no
  * `_stage_*` dir and no torn commit, and a re-run lands exactly on the
  * no-crash post-state. Also: a reader resolved before a commit keeps
  * reading its version, and writes after a crashed op keep the store.
  */
class CrashSpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("crash_spec_").toString

  /** `n` rows from id `from`: partition value `p` over 3 values, `src` over
    * 2 (p = v0/v1 → s0, v2 → s1), and a data column `x`.
    */
  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id"),
      concat(lit("v"), pmod(col("id"), lit(3L))).as("p"),
      when(pmod(col("id"), lit(3L)) === 2L, "s1").otherwise("s0").as("src"),
      (col("id") * 7L % 101L).as("x"))

  private def count(dir: String): Long = Layout.read(spark, dir).count()

  private def names(d: File): Seq[String] =
    Option(d.list()).map(_.toSeq.sorted).getOrElse(Seq.empty)

  private def staged(store: String): Seq[String] =
    names(new File(store)).filter(_.startsWith("_stage_"))

  // ---- writes after a crashed op keep the store --------------------------

  /** Run `op` as a process that dies at its `k`-th filesystem mutation. */
  private def crash(store: String, k: Int)(op: => Any): Unit = {
    val run = Faults.run(store, k)(op)
    assert(run.error.exists(Faults.injected), s"no crash: $run")
  }

  /** compact dies at its 2nd file move: one rewrite file is in the store,
    * unreferenced, and its stage dir is left behind.
    */
  private def crashedCompact(store: String): Unit =
    crash(store, 2)(Layout.compact(spark, store, "p", Seq("id")))

  test("a merge after a crash between compact's renames keeps the store") {
    val store = s"${freshRoot()}/store"
    Layout.writePartitioned(rows(0, 1000), store, "p", Seq("id"))
    crashedCompact(store)
    Layout.merge(rows(1000, 1010), store, "p", Seq("id"), Seq("id"))
    Layout.compact(spark, store, "p", Seq("id"))
    assert(count(store) === 1010L)
    assert(staged(store).isEmpty)
  }

  test("an ingest after a crash between compact's renames screens against " +
      "the store") {
    val store = s"${freshRoot()}/store"
    Layout.writePartitioned(rows(0, 1000), store, "p", Seq("id"))
    crashedCompact(store)
    // 10 rows the store holds + 10 fresh ones
    Layout.ingest(rows(990, 1010), store, "p", Seq("id"),
      md5(col("id").cast("string")))
    Layout.compact(spark, store, "p", Seq("id"))
    assert(count(store) === 1010L)
  }

  test("an append after a compactPartitions crash keeps the crashed " +
      "directory's rows") {
    val store = s"${freshRoot()}/store"
    Layout.writePartitioned(rows(0, 1000), store, "p", Seq("id"),
      maxRecordsPerFile = 100L)
    crash(store, 2)(Layout.compactPartitions(spark, store, Seq("id")))
    Layout.append(rows(1000, 1010), store, "p", Seq("id"))
    Layout.compactPartitions(spark, store, Seq("id"))
    assert(count(store) === 1010L)
    assert(Layout.filesPerPartition(store).values.forall(_ == 1))
  }

  test("an appendBatch after a crashed squash keeps every batch") {
    val store = s"${freshRoot()}/store"
    Layout.appendBatch(rows(0, 500), store, "p", Seq("id"))
    Layout.appendBatch(rows(500, 1000), store, "p", Seq("id"))
    crash(store, 2)(Layout.squashHistory(spark, store, upTo = 1L, Seq("id")))
    assert(Layout.appendBatch(rows(1000, 1010), store, "p", Seq("id")) === 2L)
    Layout.squashHistory(spark, store, upTo = 1L, Seq("id"))
    assert(count(store) === 1010L)
    assert(Layout.nextBatchId(store) === 3L)
  }

  // ---- every op at every crash point ------------------------------------

  /** One op under injection. `build` writes its pre-state under a root,
    * `op` runs it there; `stores` are the root-relative dirs it writes.
    * `idempotent`: re-running the op on its own post-state changes
    * nothing, so a run that crashed after its commit may re-run too.
    */
  private case class Op(name: String, build: String => Unit,
      op: String => Any, stores: Seq[String] = Seq("store"),
      idempotent: Boolean = true)

  /** Row count and Σxxhash64 over every column of a frame. */
  private def digest(df: DataFrame): String = {
    val hs = df.select(xxhash64(df.columns.sorted.toSeq.map(col): _*))
      .collect().map(_.getLong(0))
    s"${hs.length} rows, Σxxhash64 ${hs.sum}"
  }

  private def digest(dir: String): String = {
    val df = Layout.read(spark, dir)
    if (df.columns.isEmpty) "no data" else digest(df)
  }

  /** Per store: what [[Layout.read]] serves (a rollup with its version). */
  private def state(root: String, stores: Seq[String]): Map[String, String] =
    stores.map { s =>
      val d = s"$root/$s"
      s -> (if (s == "rollup") s"${digest(d)}, version ${Rollup.version(d)}"
            else digest(d))
    }.toMap

  /** Stage dirs and torn commits (a commit file above the current
    * version: only the in-flight next commit can be torn; every one, when
    * no commit is complete) of each store.
    */
  private def leftovers(root: String, stores: Seq[String]): Seq[String] =
    stores.flatMap { s =>
      val d = s"$root/$s"
      val cur = PointerStore.currentVersion(d).getOrElse(-1L)
      val torn = names(new File(d, "_commits"))
        .filter(_.stripPrefix("v").stripSuffix(".commit").toLong > cur)
      (staged(d) ++ torn).map(n => s"$s/$n")
    }

  private def recoverAll(root: String, stores: Seq[String]): Unit =
    stores.foreach(s => PointerStore.recover(s"$root/$s"))

  private def copyOf(template: String): String = {
    val root = freshRoot()
    FileUtils.copyDirectory(new File(template), new File(root))
    root
  }

  private def everyCrashPoint(c: Op): Unit = {
    val template = freshRoot()
    c.build(template)
    val pre = state(template, c.stores)
    val clean = copyOf(template)
    val n = Faults.count(clean)(c.op(clean))
    val post = state(clean, c.stores)
    assert(n >= 1, s"${c.name} made no filesystem mutation")
    info(s"${c.name}: $n mutations, each one a crash point")
    assert(leftovers(clean, c.stores).isEmpty)
    assert(Faults.count(clean)(recoverAll(clean, c.stores)) === 0,
      s"${c.name}: recover mutated a healthy store")
    for (k <- 1 to n) {
      val root = copyOf(template)
      val run = Faults.run(root, k)(c.op(root))
      withClue(s"${c.name}, crash at mutation $k of $n " +
          s"(${run.crashedAt.getOrElse("never reached")}):") {
        run.crashedAt match {
          case None => // concurrent bodies made fewer mutations this time
            run.error.foreach(throw _)
            assert(state(root, c.stores) === post)
          case Some(_) =>
            assert(run.error.exists(Faults.injected),
              s"the crash did not propagate: ${run.error}")
            // readers resolve the last complete commit: no repair needed
            val seen = state(root, c.stores)
            assert(seen == pre || seen == post,
              s"a reader saw $seen, neither pre $pre nor post $post")
            recoverAll(root, c.stores)
            assert(leftovers(root, c.stores).isEmpty)
            assert(state(root, c.stores) === seen, "recover changed the data")
            assert(Faults.count(root)(recoverAll(root, c.stores)) === 0,
              "recover mutated a recovered store")
            if (c.idempotent || seen == pre) {
              c.op(root)
              assert(state(root, c.stores) === post, "re-run")
              assert(leftovers(root, c.stores).isEmpty, "re-run")
            }
        }
      }
      FileUtils.deleteDirectory(new File(root))
    }
    Seq(template, clean).foreach(d => FileUtils.deleteDirectory(new File(d)))
  }

  private def store(root: String) = s"$root/store"

  private val ops = Seq(
    Op("append",
      r => Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id")),
      r => Layout.append(rows(300, 330), store(r), "p", Seq("id")),
      idempotent = false),
    // a plain directory another tool wrote: the op's first move adopts it
    Op("append to a plain directory",
      r => rows(0, 300).write.partitionBy("p").parquet(store(r)),
      r => Layout.append(rows(300, 330), store(r), "p", Seq("id")),
      idempotent = false),
    Op("compactPartitions of a plain directory",
      // several files per dir, so every dir's rewrite adopts concurrently
      r => rows(0, 300).repartition(4).write.partitionBy("p").parquet(store(r)),
      r => Layout.compactPartitions(spark, store(r), Seq("id"))),
    Op("compact", { r =>
        // two versions before the op, so its commit retires the first
        // version's files: crash points after the commit, too
        Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"))
        Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"),
          maxRecordsPerFile = 40L)
      },
      r => Layout.compact(spark, store(r), "p", Seq("id"))),
    Op("compactPartitions", { r =>
        Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"))
        // fragment two of the three dirs, so two rewrites run concurrently
        Layout.append(rows(300, 330).filter(col("p") =!= "v2"), store(r), "p",
          Seq("id"))
      },
      r => Layout.compactPartitions(spark, store(r), Seq("id"))),
    Op("merge", { r =>
        // a replaced version before the op (see compact)
        Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"))
        Layout.writePartitioned(rows(0, 300).filter(col("p") =!= "v2"),
          store(r), "p", Seq("id"))
      },
      { r =>
        // updates into the existing v0, inserts into the new v2
        val upd = rows(0, 15).filter(col("p") === "v0")
          .withColumn("x", col("x") + 1000L)
        val ins = rows(300, 315).filter(col("p") === "v2")
        Layout.merge(upd.unionByName(ins), store(r), "p", Seq("id"), Seq("id"))
      }),
    Op("squashHistory",
      r => (0 until 3).foreach(b => Layout.appendBatch(
        rows(b * 100L, b * 100L + 100L).filter(col("p") =!= "v2"),
        store(r), "p", Seq("id"))),
      r => Layout.squashHistory(spark, store(r), upTo = 1L, Seq("id"))),
    Op("evolvePartitions",
      r => Layout.writePartitioned(rows(0, 300), store(r), "src", Seq("id")),
      r => Layout.evolvePartitions(spark, store(r), "src", "p", Seq("id"))),
    Op("evolveCompact",
      r => Layout.writePartitioned(rows(0, 300), store(r), "src", Seq("id")),
      r => Layout.evolveCompact(spark, store(r), "src", "p", Seq("id"))),
    Op("vacuumRetention", { r =>
        // cutoff 10: d0 expired by its footers; d1 straddles it; d2 is all
        // below it, but its fractional stats read as unknown, so it is a
        // boundary dir whose rewrite keeps no row
        val base = spark.range(0, 90).select(col("id"),
          (pmod(col("id"), lit(9L)) + 0.0).as("t"))
        val df = base.select(col("id"), lit("d0").as("day"), col("t").as("ts"))
          .unionByName(base.select((col("id") + 100L).as("id"),
            lit("d1").as("day"), (col("t") + 5.0).as("ts")))
          .unionByName(base.select((col("id") + 200L).as("id"),
            lit("d2").as("day"), (col("t") + 0.5).as("ts")))
        Layout.writePartitioned(df, store(r), "day", Seq("id"))
      },
      r => Layout.vacuumRetention(spark, store(r), "ts", 10L, Seq("id"))),
    Op("addColumns",
      r => Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id")),
      r => Layout.addColumns(spark, store(r), Seq("x2" -> "x * 2"),
        Seq("id"))),
    Op("Rollup.maintain", { r =>
        Layout.appendBatch(rows(0, 150), store(r), "p", Seq("id"))
        Rollup.maintain(spark, store(r), s"$r/rollup", Seq("p"), Seq("x"))
        Layout.appendBatch(rows(150, 300), store(r), "p", Seq("id"))
      },
      r => Rollup.maintain(spark, store(r), s"$r/rollup", Seq("p"), Seq("x")),
      stores = Seq("rollup"))
  )

  ops.foreach { c =>
    test(s"${c.name}: recover + re-run reach the pre- or post-state at " +
        "every crash point") {
      everyCrashPoint(c)
    }
  }

  // ---- the pointer: one commit per op, readers never need the repair ----

  /** An op seen at the pointer: `append` is [[Layout.append]], `compact`
    * is [[Layout.compactPartitions]], `rewriteAll` is
    * [[Layout.evolveCompact]]. Each publishes exactly one commit.
    */
  private case class PtrOp(name: String, build: String => Unit,
      op: String => Any)

  private def ptrState(dir: String): (Option[Long], String) =
    (PointerStore.currentVersion(dir), digest(Layout.read(spark, dir)))

  private def ptrStore(r: String): Unit =
    Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"))

  private val ptrOps = Seq(
    PtrOp("append", ptrStore,
      r => Layout.append(rows(300, 330), store(r), "p", Seq("id"))),
    PtrOp("compact", { r =>
        ptrStore(r)
        Layout.append(rows(300, 330), store(r), "p", Seq("id"))
      },
      r => Layout.compactPartitions(spark, store(r), Seq("id"))),
    PtrOp("rewriteAll", ptrStore,
      r => Layout.evolveCompact(spark, store(r), "p", "src", Seq("id")))
  )

  ptrOps.foreach { c =>
    test(s"PointerStore.${c.name}: readers see the pre- or post-state at " +
        "every crash point; recover + retry gives the post-state") {
      val template = freshRoot()
      c.build(template)
      val pre = ptrState(store(template))
      val clean = copyOf(template)
      val n = Faults.count(clean)(c.op(clean))
      val post = ptrState(store(clean))
      assert(n >= 1 && post._1 === pre._1.map(_ + 1L))
      info(s"PointerStore.${c.name}: $n mutations, each one a crash point")
      for (k <- 1 to n) {
        val root = copyOf(template)
        val run = Faults.run(root, k)(c.op(root))
        withClue(s"PointerStore.${c.name}, crash at mutation $k of $n " +
            s"(${run.crashedAt.getOrElse("never reached")}):") {
          if (run.crashedAt.isEmpty) {
            run.error.foreach(throw _)
            assert(ptrState(store(root)) === post)
          } else {
            assert(run.error.exists(Faults.injected))
            val seen = ptrState(store(root))
            assert(seen == pre || seen == post, s"reader saw $seen")
            PointerStore.recover(store(root))
            if (seen == pre) c.op(root)
            assert(ptrState(store(root)) === post, "retry")
            assert(staged(store(root)).isEmpty)
          }
        }
        FileUtils.deleteDirectory(new File(root))
      }
      Seq(template, clean).foreach(d => FileUtils.deleteDirectory(new File(d)))
    }
  }

  test("a reader resolved before a commit returns the pre-state after it") {
    ops.foreach { c =>
      val root = freshRoot()
      c.build(root)
      withClue(s"${c.name}:") {
        val pinned = c.stores.map(s => Layout.read(spark, s"$root/$s"))
        val pre = pinned.map(digest)
        val before = c.stores.map(s => PointerStore.currentVersion(s"$root/$s"))
        c.op(root)
        assert(c.stores.map(s => PointerStore.currentVersion(s"$root/$s")) !=
          before, "the op published no commit")
        assert(pinned.map(digest) === pre)
      }
      FileUtils.deleteDirectory(new File(root))
    }
  }
}
