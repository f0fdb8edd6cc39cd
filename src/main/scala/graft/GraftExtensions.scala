package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, LshSignatures, MinHashSignature, SimHash64, WinnowFingerprints, WordShingles}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql` users get them without the
  * Scala API:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   -- or --
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  *   SELECT vec_dot(a.embedding, b.embedding) FROM ...
  *   SELECT word_shingles(text, 3) FROM documents
  *   SELECT winnow_fingerprints(text, 5, 4) FROM documents
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // between-join -> binned equi-join rewrite (off until
    // spark.graft.rangeJoin.binWidth is set > 0)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { args =>
      require(args.length == 2, "vec_dot(a, b) takes two array arguments")
      DotProduct(args(0), args(1))
    },
    "word_shingles" -> {
      case Seq(c) => WordShingles(c, 3)
      case Seq(c, n) => WordShingles(c, intLit(n, "shingle size"))
      case _ => throw new IllegalArgumentException("word_shingles(text[, n])")
    },
    "winnow_fingerprints" -> {
      case Seq(c) => WinnowFingerprints(c, 5, 4)
      case Seq(c, k, w) => WinnowFingerprints(c, intLit(k, "k"), intLit(w, "w"))
      case _ => throw new IllegalArgumentException("winnow_fingerprints(text[, k, w])")
    },
    "simhash64" -> {
      case Seq(c) => SimHash64(c)
      case _ => throw new IllegalArgumentException("simhash64(text)")
    },
    "minhash_sig" -> {
      case Seq(c) => MinHashSignature(c, 3, 16)
      case Seq(c, n, k) =>
        MinHashSignature(c, intLit(n, "shingle size"), intLit(k, "num hashes"))
      case _ => throw new IllegalArgumentException("minhash_sig(text[, n, k])")
    },
    // lsh_signatures(vec, dim, seed, tables, bits): sign-random-projection
    // signatures with hyperplanes derived deterministically from the seed —
    // the SQL route to graft.ops.Similarity's LSH index (dim must be given
    // as a literal because the planes are baked at plan time)
    "lsh_signatures" -> {
      case Seq(c, dim, seed, tables, bits) =>
        val t = intLit(tables, "tables")
        val b = intLit(bits, "bits")
        val planes = graft.ops.Similarity.hyperplanes(
          intLit(seed, "seed").toLong, t, b, intLit(dim, "dim"))
        LshSignatures(c, planes.flatten.flatten, t, b)
      case _ => throw new IllegalArgumentException(
        "lsh_signatures(vec, dim, seed, tables, bits)")
    })

  /** Register the same functions into an already-running session (the
    * builder path requires withExtensions/spark.sql.extensions at startup).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
