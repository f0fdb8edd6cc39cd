package graft.ops

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Fault injection through [[Fs.beforeMutation]]: `body` runs as a process
  * that dies at the `k`-th filesystem mutation under `root` (1-based).
  * That mutation and every later one under `root` throw [[Faults.Injected]]:
  * a dead process does nothing more, so the restore rename of a failing
  * swap fails too. Mutations elsewhere pass untouched.
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
  * every crash point, recovers through [[Layout.recover]] to a state whose
  * partition directories each hold their pre-state or their post-state,
  * and a re-run lands exactly on the no-crash post-state. Also the
  * data-loss cases of writes that used to skip recovery, and the same
  * injection against [[PointerStore]]'s commits, whose readers need no
  * repair at all.
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

  private def count(dir: String): Long = spark.read.parquet(dir).count()

  // ---- writes that skipped recovery used to lose data -------------------
  // The crash states are built by hand so these cases run against any
  // version of Layout, including ones without the fault hook.

  /** A store as compact leaves it when it dies between its two renames:
    * the live dir renamed aside, its rewrite complete but not moved in.
    */
  private def crashedCompact(store: String): Unit = {
    Layout.writePartitioned(spark.read.parquet(store), store + "__next", "p",
      Seq("id"))
    Files.move(Paths.get(store), Paths.get(store + "__old"))
  }

  test("a merge after a crash between compact's renames keeps the store") {
    val store = s"${freshRoot()}/store"
    Layout.writePartitioned(rows(0, 1000), store, "p", Seq("id"))
    crashedCompact(store)
    Layout.merge(rows(1000, 1010), store, "p", Seq("id"), Seq("id"))
    Layout.compact(spark, store, "p", Seq("id"))
    assert(count(store) === 1010L)
    assert(!new File(store + "__old").exists())
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

  test("an append after a compactPartitions crash keeps the directory " +
      "renamed aside") {
    val store = s"${freshRoot()}/store"
    Layout.writePartitioned(rows(0, 1000), store, "p", Seq("id"))
    Files.move(Paths.get(s"$store/p=v0"), Paths.get(s"$store/.__old__p=v0"))
    Layout.append(rows(1000, 1010), store, "p", Seq("id"))
    Layout.compactPartitions(spark, store, Seq("id"))
    assert(count(store) === 1010L)
  }

  test("an appendBatch after a per-directory swap crash keeps the " +
      "directory renamed aside") {
    val store = s"${freshRoot()}/store"
    Layout.appendBatch(rows(0, 1000), store, "p", Seq("id"))
    Files.move(Paths.get(s"$store/p=v0"), Paths.get(s"$store/.__old__p=v0"))
    assert(Layout.appendBatch(rows(1000, 1010), store, "p", Seq("id")) === 1L)
    Layout.compactPartitions(spark, store, Seq("id"))
    assert(count(store) === 1010L)
    assert(Layout.nextBatchId(store) === 2L)
  }

  // ---- every op at every crash point ------------------------------------

  /** One op under injection. `build` writes its pre-state under a root,
    * `op` runs it there; `stores` are the root-relative dirs it writes.
    * `resumable`: recover keeps its pruned `__evolving` scratch.
    */
  private case class Op(name: String, build: String => Unit,
      op: String => Any, stores: Seq[String] = Seq("store"),
      wholeStore: Boolean = false, resumable: Boolean = false)

  private def names(d: File): Seq[String] =
    Option(d.list()).map(_.toSeq.sorted).getOrElse(Seq.empty)

  /** Row count and Σxxhash64 over every column of a parquet dir. */
  private def digest(dir: String): String = {
    val df = spark.read.parquet(dir)
    val hs = df.select(xxhash64(df.columns.sorted.map(col): _*))
      .collect().map(_.getLong(0))
    s"${hs.length} rows, Σxxhash64 ${hs.sum}"
  }

  /** Per partition directory of each store: its digest. A store without
    * partition directories (a rollup) is one unit, with its version.
    */
  private def state(root: String, stores: Seq[String]): Map[String, String] =
    stores.flatMap { s =>
      val d = new File(root, s)
      val parts = names(d).filter(n => n.contains("=") &&
        !n.startsWith(".") && !n.startsWith("_"))
      if (parts.nonEmpty) parts.map(pd => s"$s/$pd" -> digest(s"$d/$pd"))
      else if (d.isDirectory)
        Seq(s -> s"${digest(d.getPath)}, version ${Rollup.version(d.getPath)}")
      else Seq.empty
    }.toMap

  /** Asides, scratch and markers anywhere under `root`. */
  private def leftovers(root: String, resumable: Boolean): Seq[String] = {
    def walk(d: File): Seq[String] = names(d).flatMap { n =>
      val f = new File(d, n)
      val inEvolving = d.getName.endsWith("__evolving")
      val bad = n.endsWith("__next") || n.endsWith("__old") ||
        n.startsWith(".__") || (n.startsWith(".") && n.endsWith(".tmp")) ||
        (n == "._evolve_done" && !inEvolving) ||
        (n.endsWith("__evolving") && !resumable)
      (if (bad) Seq(f.getPath) else Seq.empty) ++
        (if (f.isDirectory) walk(f) else Seq.empty)
    }
    walk(new File(root))
  }

  /** Store-relative directory names a plain reader's file index sees that
    * are scratch or aside names. A store with no visible data (mid-swap)
    * reads as nothing.
    */
  private def visibleScratch(root: String, stores: Seq[String]): Seq[String] =
    stores.flatMap { s =>
      val d = new File(root, s)
      val files =
        if (!d.isDirectory) Seq.empty
        else try spark.read.parquet(d.getPath).inputFiles.toSeq
        catch { case _: AnalysisException => Seq.empty }
      files.flatMap(f => new java.net.URI(f).getPath
          .stripPrefix(d.getPath + "/").split('/').dropRight(1))
        .filter(seg => seg.contains("__") || seg.startsWith("."))
    }.distinct

  private def recoverAll(root: String, stores: Seq[String]): Unit =
    stores.foreach(s => Layout.recover(s"$root/$s"))

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
    assert(leftovers(clean, resumable = false).isEmpty)
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
            assert(visibleScratch(root, c.stores).isEmpty)
            recoverAll(root, c.stores)
            assert(leftovers(root, c.resumable).isEmpty)
            val now = state(root, c.stores)
            (pre.keySet ++ post.keySet ++ now.keySet).foreach { pd =>
              assert(now.get(pd) == pre.get(pd) || now.get(pd) == post.get(pd),
                s"$pd: ${now.get(pd)} is neither pre ${pre.get(pd)} " +
                  s"nor post ${post.get(pd)}")
            }
            if (c.wholeStore) assert(now == pre || now == post)
            assert(Faults.count(root)(recoverAll(root, c.stores)) === 0,
              "recover mutated a recovered store")
            c.op(root)
            assert(state(root, c.stores) === post, "re-run")
            assert(leftovers(root, resumable = false).isEmpty, "re-run")
        }
      }
      FileUtils.deleteDirectory(new File(root))
    }
    Seq(template, clean).foreach(d => FileUtils.deleteDirectory(new File(d)))
  }

  private def store(root: String) = s"$root/store"

  private val ops = Seq(
    Op("compact",
      r => Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"),
        maxRecordsPerFile = 40L),
      r => Layout.compact(spark, store(r), "p", Seq("id")),
      wholeStore = true),
    Op("compactPartitions", { r =>
        Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"))
        // fragment two of the three dirs, so two rewrites run concurrently
        Layout.append(rows(300, 330).filter(col("p") =!= "v2"), store(r), "p",
          Seq("id"))
      },
      r => Layout.compactPartitions(spark, store(r), Seq("id"))),
    Op("merge",
      r => Layout.writePartitioned(rows(0, 300).filter(col("p") =!= "v2"),
        store(r), "p", Seq("id")),
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
      r => Layout.evolvePartitions(spark, store(r), "src", "p", Seq("id")),
      wholeStore = true, resumable = true),
    Op("evolveCompact",
      r => Layout.writePartitioned(rows(0, 300), store(r), "src", Seq("id")),
      r => Layout.evolveCompact(spark, store(r), "src", "p", Seq("id")),
      wholeStore = true),
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
      stores = Seq("rollup"), wholeStore = true)
  )

  ops.foreach { c =>
    test(s"${c.name}: recover + re-run reach the pre- or post-state at " +
        "every crash point") {
      everyCrashPoint(c)
    }
  }

  // ---- PointerStore: readers never need the repair ----------------------

  private case class PtrOp(name: String, build: String => Unit,
      op: String => Long)

  private def ptrState(dir: String): (Option[Long], String) =
    (PointerStore.currentVersion(dir), {
      val df = PointerStore.read(spark, dir)
      val hs = df.select(xxhash64(df.columns.sorted.map(col): _*))
        .collect().map(_.getLong(0))
      s"${hs.length} rows, Σxxhash64 ${hs.sum}"
    })

  private def ptrStore(r: String): Unit = {
    Layout.writePartitioned(rows(0, 300), store(r), "p", Seq("id"))
    PointerStore.init(store(r))
  }

  private val ptrOps = Seq(
    PtrOp("append", ptrStore,
      r => PointerStore.append(rows(300, 330), store(r), "p", Seq("id"))),
    PtrOp("compact", { r =>
        ptrStore(r)
        PointerStore.append(rows(300, 330), store(r), "p", Seq("id"))
      },
      r => PointerStore.compact(spark, store(r), Seq("id"))),
    PtrOp("rewriteAll", ptrStore,
      r => PointerStore.rewriteAll(spark, store(r), "src", Seq("id")))
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
            c.op(root)
            assert(ptrState(store(root)) === post, "retry")
            assert(!names(new File(store(root))).exists(_.startsWith("_stage_")))
          }
        }
        FileUtils.deleteDirectory(new File(root))
      }
      Seq(template, clean).foreach(d => FileUtils.deleteDirectory(new File(d)))
    }
  }
}
