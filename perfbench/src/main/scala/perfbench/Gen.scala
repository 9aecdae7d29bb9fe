package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs, computed from (seed, row number) alone, so
  * the same seed gives the same rows whatever the partitioning. */
object Gen {
  private val Two53 = (1L << 53).toDouble

  /** Uniform in [0, 1) from a hash of the seed, a salt and `keys`. */
  def unif(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1L << 53))
      .cast("double") / Two53

  /** Standard normal (Box-Muller over two hashed uniforms). */
  def gauss(seed: Long, salt: Int, keys: Column*): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - unif(seed, salt, keys: _*))) *
      cos(lit(2 * math.Pi) * unif(seed, salt + 1, keys: _*))

  /** `clusters` unit-norm centres in `dim` dimensions. */
  def centres(seed: Long, clusters: Int, dim: Int): Seq[Seq[Double]] = {
    val rng = new java.util.Random(seed)
    Seq.fill(clusters) {
      val v = Seq.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** 64-bit row number `num` in [from, until) with a float vector drawn
    * from a mixture of `clusters` Gaussians of per-dimension spread
    * `spread`. Rows with `num < from + dups` are planted near-duplicates
    * of row `num + dups`: the same draw plus noise of spread 1e-5. */
  def vectors(spark: SparkSession, seed: Long, from: Long, until: Long,
      dim: Int, clusters: Int, spread: Double, dups: Long = 0L): DataFrame = {
    val cs = typedLit(centres(seed, clusters, dim))
    spark.range(from, until).select(col("id").as("num"),
        when(col("id") < from + dups, col("id") + dups).otherwise(col("id")).as("src"))
      .select(col("num"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          element_at(element_at(cs,
            (pmod(xxhash64(lit(seed), col("src")), lit(clusters.toLong)) + 1).cast("int")),
            j + 1) +
            lit(spread) * gauss(seed, 10, col("src"), j) +
            lit(1e-5) * gauss(seed, 20, col("num"), j))
          .cast("array<float>").as("vector"))
  }

  /** `vocab` pseudo-words; a skewed draw makes some far more common. */
  def words(vocab: Int): Seq[String] =
    (0 until vocab).map(i => "w" + Integer.toString(i * 7919 % 104729, 36))

  /** Documents `doc_id` in [0, n) of 30-80 tokens. The first `exact`
    * documents copy document `id + exact + near`; the next `near` copy
    * document `id + exact + near` with the fourth token replaced. */
  def documents(spark: SparkSession, seed: Long, n: Long, vocab: Int,
      exact: Long, near: Long): DataFrame = {
    val ws = typedLit(words(vocab))
    val planted = exact + near
    val src = when(col("id") < planted, col("id") + planted).otherwise(col("id"))
    def token(key: Column, i: Column): Column = {
      val u = unif(seed, 30, key, i)
      element_at(ws, (u * u * vocab).cast("int") + 1)
    }
    spark.range(0, n).select(col("id").as("doc_id"), src.as("src"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0),
          (lit(30) + unif(seed, 31, col("src")) * 51).cast("int") - 1), i =>
          when(col("doc_id") >= exact && col("doc_id") < planted && i === 3,
            token(col("doc_id") + lit(1L << 40), i))
            .otherwise(token(col("src"), i)))).as("text"))
  }
}
