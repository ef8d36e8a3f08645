package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{Fingerprint, MinHashBands, MinHashSignature, PerceptualHash, ShingleHashes, SimHash, TokenHashes, VecDot, VecSum}

/** Session extension registering graft's custom Catalyst expressions as SQL
  * functions — the public, spark-submit-friendly injection point:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  *   // then: SELECT simhash(token_hashes, 30) FROM ...
  * }}}
  *
  * The Column API in [[graft.functions.Sketches]] resolves through the same
  * registry via `call_function`, so Scala and SQL users share one definition.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal INT, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name expects a literal BIGINT, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => MinHashSignature(child, 128, 42L)
        case Seq(child, k) => MinHashSignature(child, intArg(k, "numHashes"), 42L)
        case Seq(child, k, s) =>
          MinHashSignature(child, intArg(k, "numHashes"), longArg(s, "seed"))
        case _ => throw new IllegalArgumentException(
          "minhash_signature(array<bigint>[, numHashes[, seed]])")
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => MinHashBands(child, 128, 32, 42L)
        case Seq(child, k, b) =>
          MinHashBands(child, intArg(k, "numHashes"), intArg(b, "bands"), 42L)
        case Seq(child, k, b, s) =>
          MinHashBands(child, intArg(k, "numHashes"), intArg(b, "bands"),
            longArg(s, "seed"))
        case _ => throw new IllegalArgumentException(
          "minhash_bands(array<bigint>[, numHashes, bands[, seed]])")
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => SimHash(child, 30)
        case Seq(child, b) => SimHash(child, intArg(b, "bits"))
        case _ => throw new IllegalArgumentException("simhash(array<bigint>[, bits])")
      }))
    e.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => ShingleHashes(child, 3)
        case Seq(child, n) => ShingleHashes(child, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("shingle_hashes(string[, n])")
      }))
    e.injectFunction((
      new FunctionIdentifier("token_hashes"),
      new ExpressionInfo(classOf[TokenHashes].getName, "token_hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => TokenHashes(child)
        case _ => throw new IllegalArgumentException("token_hashes(string)")
      }))
    e.injectFunction((
      new FunctionIdentifier("fingerprint"),
      new ExpressionInfo(classOf[Fingerprint].getName, "fingerprint"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => Fingerprint(child)
        case _ => throw new IllegalArgumentException("fingerprint(string)")
      }))
    e.injectFunction((
      new FunctionIdentifier("perceptual_hash"),
      new ExpressionInfo(classOf[PerceptualHash].getName, "perceptual_hash"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => PerceptualHash(child, 48, 2)
        case Seq(child, b) => PerceptualHash(child, intArg(b, "bits"), 2)
        case Seq(child, b, st) =>
          PerceptualHash(child, intArg(b, "bits"), intArg(st, "stride"))
        case _ => throw new IllegalArgumentException("perceptual_hash(string[, bits[, stride]])")
      }))
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecDot(a, b)
        case _ => throw new IllegalArgumentException("vec_dot(array<double>, array<double>)")
      }))
    e.injectFunction((
      new FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "vec_sum"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => VecSum(a)
        case _ => throw new IllegalArgumentException("vec_sum(array<double>)")
      }))
  }
}

object GraftExtensions {

  /** The local session every main runs on: `local[$SPARK_GRAFT_CPUS]`
    * (`cpusDefault` when unset — each main keeps its own deployment
    * default), graft's extensions, one shuffle partition per core, UTC,
    * no UI, WARN logging.
    */
  def local(cpusDefault: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", cpusDefault.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
