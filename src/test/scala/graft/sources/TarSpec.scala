package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The USTAR codec and the `graft-tar` connector built on it: golden
  * header bytes against the POSIX.1-1988 layout; hand-built archives
  * (`entryBytes` + end-of-archive blocks) read back through `graft-tar`
  * for payload padding at block boundaries, a full 100-byte name, and
  * checksum and truncation failures; and `graft-tar` writes checked by
  * GNU `tar`, for deterministic bytes, overwrite, and a failed write that
  * leaves the previous export intact. Shards written by Python's
  * `tarfile` are TarV2Spec's. The data path through real corpus text is
  * under the hash gates (q_tar_roundtrip, q_tar_reshard).
  */
class TarSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def load(dir: String): DataFrame =
    spark.read.format("graft-tar").load(dir)

  /** Writes `bytes` as `shard-0.tar` in a fresh dir, reads it back. */
  private def readBack(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val dir = tmpDir("tar_hand_")
    Files.write(Paths.get(dir, "shard-0.tar"), bytes)
    load(dir).select("name", "payload").as[(String, Array[Byte])]
      .collect().toSeq
  }

  /** Writes (shard, name, payload) rows as `dir/shard-<shard>.tar`. */
  private def save(df: DataFrame, dir: String): Unit =
    df.select(concat(lit("shard-"), col("shard"), lit(".tar")).as("shard_file"),
        col("name"), lit(null).cast("long").as("size"), col("payload"))
      .write.format("graft-tar").mode("overwrite").save(dir)

  private def shardNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".tar")).sorted.toSeq

  private def hasCause(e: Throwable, needle: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains(needle))

  test("golden header: field offsets, octal encodings, checksum per spec") {
    val e = Tar.entryBytes("doc.txt", "hello".getBytes("UTF-8"))
    // header + 512-padded payload
    assert(e.length === 512 + 512)
    assert(new String(e.take(7), "US-ASCII") === "doc.txt" && e(7) === 0)
    assert(new String(e, 100, 7, "US-ASCII") === "0000644") // mode
    assert(new String(e, 124, 11, "US-ASCII") === "00000000005") // size 5
    assert(e(156) === '0'.toByte) // typeflag regular
    assert(new String(e, 257, 5, "US-ASCII") === "ustar" && e(262) === 0)
    assert(new String(e, 263, 2, "US-ASCII") === "00")
    // checksum recomputes: spaces in the field, sum all header bytes
    val h = e.take(512).clone()
    val stored = java.lang.Long.parseLong(
      new String(h, 148, 6, "US-ASCII"), 8)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    assert(stored === h.foldLeft(0L)((a, b) => a + (b & 0xff)))
    assert(new String(e, 512, 5, "UTF-8") === "hello")
    assert(e.drop(517).forall(_ == 0)) // padding zeroed
  }

  test("padding edges: empty, 511, 512, 513-byte payloads round-trip") {
    // one archive, entries back to back: each padding must land the
    // reader exactly on the next header
    val sizes = Seq(0, 1, 511, 512, 513, 1024)
    val payloads = sizes.map(n => Array.tabulate(n)(i => (i % 251).toByte))
    val bytes = sizes.zip(payloads)
      .map { case (n, p) => Tar.entryBytes(s"p$n.bin", p) }
      .reduce(_ ++ _) ++ new Array[Byte](1024)
    val got = readBack(bytes)
    assert(got.map(_._1) === sizes.map(n => s"p$n.bin"))
    got.zip(payloads).foreach { case ((n, g), p) =>
      assert(g.sameElements(p), s"payload $n mangled")
    }
  }

  test("corruption fails loud: checksum and truncation") {
    val bytes = Tar.entryBytes("x.txt", "data".getBytes) ++ new Array[Byte](1024)
    val flipped = bytes.clone(); flipped(0) = 'y'.toByte // name changed
    assert(hasCause(intercept[Exception](readBack(flipped)),
      "checksum mismatch"))
    assert(hasCause(intercept[Exception](readBack(bytes.take(600))),
      "truncated tar"))
    // oversized / bad names refused at write time
    intercept[IllegalArgumentException] { Tar.entryBytes("a" * 101, Array.emptyByteArray) }
    intercept[IllegalArgumentException] { Tar.entryBytes("", Array.emptyByteArray) }
  }

  test("a FULL 100-byte name (no NUL terminator) round-trips exactly") {
    val name = "d/" + ("x" * 94) + ".txt" // 100 bytes
    assert(name.getBytes("UTF-8").length === 100)
    val got = readBack(Tar.entryBytes(name, "p".getBytes) ++ new Array[Byte](1024))
    assert(got.head._1 === name,
      s"name overran into the mode field: '${got.head._1}'")
  }

  test("re-export OVERWRITES: stale shards from a wider split are removed") {
    val dir = tmpDir("tar_over_")
    def df(mod: Int) = spark.range(32)
      .select(pmod(col("id"), lit(mod)).as("shard"),
        concat(col("id").cast("string"), lit(".txt")).as("name"),
        encode(col("id").cast("string"), "UTF-8").as("payload"))
    save(df(8), dir)
    assert(shardNames(dir).size === 8)
    save(df(4), dir)
    // the four stale shard-4..7.tar files must be GONE, and the read
    // returns exactly the new corpus — no mixed stale samples
    assert(shardNames(dir) === (0 until 4).map(i => s"shard-$i.tar"))
    assert(load(dir).count() === 32)
  }

  test("WebDataset samples: per-key txt+json entry PAIRS stay adjacent") {
    val dir = tmpDir("tar_pairs_")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    // one sample = two entries sharing the key: <id>.txt (payload) and
    // <id>.json (metadata) — expressed as a plain union, no special API
    val txt = docs.select(lit(0L).as("shard"),
      concat(col("doc_id"), lit(".txt")).as("name"),
      encode(col("text"), "UTF-8").as("payload"))
    val meta = docs.select(lit(0L).as("shard"),
      concat(col("doc_id"), lit(".json")).as("name"),
      encode(to_json(struct(col("lang"), col("source"))), "UTF-8").as("payload"))
    save(txt.unionByName(meta), dir)
    // one shard = one scan partition, so rows arrive in archive order
    val names = load(dir).select("name").as[String].collect().toVector
    // name-sorted writing puts <id>.json directly before <id>.txt —
    // the adjacency WebDataset loaders group samples by
    val keys = names.map(_.split("\\.")(0))
    assert(names.length === 40)
    keys.grouped(2).foreach(g => assert(g(0) === g(1),
      s"sample entries not adjacent: $g"))
  }

  test("interop: GNU tar lists and extracts our shards byte-identically") {
    assume(new java.io.File("/usr/bin/tar").canExecute, "system tar absent")
    val dir = tmpDir("tar_interop_")
    val df = Seq((0L, "a.txt", "alpha"), (0L, "b.bin", "beta\u0000bytes"))
      .toDF("shard", "name", "s")
      .select(col("shard"), col("name"), encode(col("s"), "UTF-8").as("payload"))
    save(df, dir)
    val shard = new java.io.File(dir, "shard-0.tar")
    // list
    val list = new ProcessBuilder("tar", "-tf", shard.getAbsolutePath)
      .redirectErrorStream(true).start()
    val names = scala.io.Source.fromInputStream(list.getInputStream)
      .getLines().toVector
    assert(list.waitFor() === 0, s"tar -tf failed: $names")
    assert(names === Vector("a.txt", "b.bin"))
    // extract and compare payloads
    val ex = new ProcessBuilder("tar", "-xf", shard.getAbsolutePath, "-C", dir)
      .redirectErrorStream(true).start()
    assert(ex.waitFor() === 0)
    assert(new String(Files.readAllBytes(Paths.get(dir, "a.txt")), "UTF-8") === "alpha")
    assert(Files.readAllBytes(Paths.get(dir, "b.bin"))
      .sameElements("beta\u0000bytes".getBytes("UTF-8")))
  }

  test("distributed shards: write → read round trip, deterministic bytes") {
    val dir1 = tmpDir("tar_spec_")
    val dir2 = tmpDir("tar_spec_")
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(pmod(col("doc_id"), lit(4)).as("shard"),
        concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
        encode(col("text"), "UTF-8").as("payload"))
    save(df, dir1)
    val files = shardNames(dir1)
    assert(files === (0 until 4).map(i => s"shard-$i.tar"))
    val back = load(dir1)
    assert(back.count() === df.count())
    // payloads identical, matched by name
    val orig = df.select(col("name"), col("payload")).as[(String, Array[Byte])]
      .collect().toMap
    val got = back.select(col("name"), col("payload")).as[(String, Array[Byte])]
      .collect()
    assert(got.length === orig.size)
    assert(got.forall { case (n, p) => orig(n).sameElements(p) })
    // byte-determinism: a second write produces identical shard files
    save(df, dir2)
    for (f <- files) {
      val a = Files.readAllBytes(Paths.get(dir1, f))
      val b = Files.readAllBytes(Paths.get(dir2, f))
      assert(java.util.Arrays.equals(a, b), s"$f not deterministic")
    }
    // duplicate names within a shard are refused — and the failure must
    // not leave a truncated in-progress shard (no end-of-archive blocks)
    // behind for a reader to pick up as data
    val dupDir = tmpDir("tar_dup_")
    assert(hasCause(intercept[Exception] {
      save(df.withColumn("name", lit("same.txt")), dupDir)
    }, "strictly increasing"))
    assert(shardNames(dupDir).isEmpty, "crashed export left shards behind")
    // a failed RE-export must leave the previous export intact and
    // readable — not a partial set of new shards (some tasks' complete
    // shards mixed with the old corpus)
    val before = load(dir1).count()
    intercept[Exception] {
      save(df.withColumn("name", lit("same.txt")), dir1)
    }
    assert(load(dir1).count() === before,
      "failed re-export must not disturb the committed shards")
    assert(!new java.io.File(dir1, ".__v2staging__").exists(),
      "failed export must clean its staging dir")
  }
}
