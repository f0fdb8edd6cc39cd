package graft.streaming

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** The gates' one scratch model: every directory a gate writes for its own
  * use (a streaming gate's staged source, checkpoint and sink store; a
  * store gate's written layout; a persisted band index) lives under one
  * per-JVM root. The root is a random per-process directory, not a
  * predictable name in the shared tmpdir, so concurrent graft JVMs (Bench
  * and ScaleBench on different datasets) never overwrite or sweep each
  * other's dirs and another local user cannot pre-create them. It is
  * removed on JVM exit.
  */
object Scratch {

  private lazy val root: File = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong

  /** Run `body` over a fresh directory `<root>/<name>-<n>` and delete it
    * when the body returns or throws.
    */
  def withDir[T](name: String)(body: String => T): T = {
    val dir = new File(root, s"$name-${seq.incrementAndGet()}")
    require(dir.mkdir(), s"cannot create scratch dir $dir")
    try body(dir.getAbsolutePath)
    finally deleteRecursively(dir)
  }

  /** Store dir `<root>/<name>/<key>`, the key a hash of the FULL dataset
    * path: basenames collide across checkouts ("data"/"data"), full paths
    * don't. A gate that reruns on the same dataset reuses (and overwrites)
    * its store.
    */
  def storeDir(name: String, d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(new File(d).getAbsolutePath.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    new File(new File(root, name), key).getAbsolutePath
  }

  /** Delete every store dir under `<root>/<name>`. */
  def clear(name: String): Unit = deleteRecursively(new File(root, name))

  /** A driver-side copy of `df`, for a gate result read from a scratch dir
    * that is deleted before the caller reads the result.
    */
  def collected(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Local-path recursive delete (the store protocol itself deletes
    * through [[graft.ops.Fs]]).
    */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }
}
