package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ControlFiles
import graft.functions.{VectorFunctions => V}

/** Product quantization (PQ) — the third compressed-retrieval mode next
  * to sign-bit Hamming (data-independent, 32×) and IVF (cell pruning):
  * split the vector into `m` subspaces, learn a tiny per-subspace
  * codebook (k centroids over subDim dims), and store each vector as
  * `m` small codes. At 64 dims with m=8, k=16 a vector is 8 nibbles —
  * 64 floats → 4 bytes, 64× compression — and an asymmetric-distance
  * (ADC) scan never touches the original floats: the query precomputes
  * an m×k lookup table of subspace distances, and a row's approximate
  * distance is `m` table lookups + adds, all integer-indexed.
  *
  * Everything downstream of training is a pure expression: encoding is
  * an argmin over ROUNDED literal-centroid distances (first-index on
  * ties — bit-stable cross-engine, the q_ann_ivf construction), and the
  * ADC sum is a fixed-order sum of literal doubles, so the whole scan
  * is oracle-pairable. Training reuses [[Ivf.train]] per subspace
  * (deterministic Lloyd's, no RNG) on a bounded sample — the 100 TB
  * posture: train on a sliver, encode map-side everywhere.
  */
object Pq {

  /** codebooks(mi)(c) = centroid `c` of subspace `mi` (subDim doubles). */
  final case class PqModel(codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length

    /** Stable fingerprint of the codebooks on the same 6-dp grid the
      * encode expression quantizes through — two models that would
      * assign identical codes fingerprint identically, any retrain
      * that moves a centroid does not. A lake's `_meta.json` records
      * this so a writer/reader built with a different model fails
      * loudly instead of silently mixing incompatible `pq_code`s. */
    lazy val fingerprint: String = {
      val sb = new StringBuilder
      codebooks.foreach(_.foreach(_.foreach { x =>
        sb.append(java.lang.String.format(java.util.Locale.ROOT,
          "%.6f", Double.box(V.round6d(x)))).append(',')
      }))
      java.security.MessageDigest.getInstance("MD5")
        .digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    /** Code for subspace `mi` as an expression: argmin of the ROUNDED
      * L2 distances to the literal codebook (first index on ties). */
    def codeCol(vec: Column, mi: Int): Column = {
      val sub = slice(vec, mi * subDim + 1, subDim)
      val ds = array(codebooks(mi).map(c =>
        round(V.l2Dist(sub, V.vecLit(c)), 6)): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }

    /** Driver-side ADC lookup table for subspace `mi` of query `q`,
      * rounded to 6dp — the SAME literals are inlined into the Spark
      * expression and the oracle SQL, so parity cannot depend on how
      * either engine would compute them. */
    def lutFor(q: Seq[Double], mi: Int): IndexedSeq[Double] = {
      val sub = q.slice(mi * subDim, (mi + 1) * subDim)
      codebooks(mi).map { c =>
        V.round6d(math.sqrt(c.iterator.zip(sub.iterator)
          .map { case (x, y) => (x - y) * (x - y) }.sum))
      }
    }

    /** Approximate distance of `vec` to literal query `q`: m lookups in
      * fixed subspace order, one final round. */
    def adcDistCol(vec: Column, q: Seq[Double]): Column =
      round(codebooks.indices.map { mi =>
        element_at(V.vecLit(lutFor(q, mi)), codeCol(vec, mi) + 1)
      }.reduce(_ + _), 6)

    /** SQL twin of [[codeCol]] (1-BASED code, DuckDB list_position). */
    def sqlCodeExpr(c: String, mi: Int): String = {
      val sub = s"($c[${mi * subDim + 1}:${(mi + 1) * subDim}])"
      val ds = codebooks(mi).map(cn =>
        s"round(${V.sqlL2DistLit(sub, cn)}, 6)").mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds))"
    }

    /** SQL twin of [[adcDistCol]]. */
    def sqlAdcDistExpr(c: String, q: Seq[Double]): String = {
      val terms = codebooks.indices.map { mi =>
        val lut = lutFor(q, mi).mkString("[", ", ", "]")
        s"($lut)[${sqlCodeExpr(c, mi)}]"
      }
      s"round(${terms.mkString(" + ")}, 6)"
    }
  }

  /** Train per-subspace codebooks with [[Ivf.train]] (deterministic).
    * `df` should already be the training sample at scale; `dim` is the
    * caller-known vector dimension (every call site has it — deriving
    * it would cost a Spark job and fail opaquely on an empty sample). */
  def train(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      m: Int, k: Int, iters: Int = 3): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val base = df.select(col(idCol).as("_id"), V.asDouble(col(vecCol)).as("_v"))
    val subDim = dim / m
    PqModel((0 until m).map { mi =>
      val sub = base.select(col("_id"),
        slice(col("_v"), mi * subDim + 1, subDim).as("_s"))
      Ivf.train(sub, "_s", "_id", k, iters).centroids
    }.toIndexedSeq)
  }

  /** Round every codebook entry to 6dp (literal-inlining hygiene —
    * [[V.round6d]], the shared parity rule). */
  def round6(model: PqModel): PqModel =
    PqModel(model.codebooks.map(_.map(_.map(V.round6d))))

  // ---- persistence -------------------------------------------------
  //
  // The lake's `_meta.json` fingerprint REFUSES a wrong model, but
  // refusal alone strands a second session: `pq_code` rows are
  // unreadable without the codebooks that wrote them, and retraining
  // reproduces them only over the identical sample. Persist the model
  // next to the lake (`<root>/_pq` — underscore-prefixed, invisible to
  // Spark's data reads) so any session can LOAD the exact codebooks
  // the fingerprint demands. Same layout and contract as
  // [[Ivf.save]]/[[Ivf.load]]: a `codebooks` parquet (m, c, pos,
  // value) plus `_pq_meta.json` carrying the fingerprint, verified on
  // load; save refuses to overwrite a different model.

  private def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_pq_meta.json")

  /** Persist `model` under `dir`; idempotent for the identical model,
    * refuses (require) a different one — replacing codebooks under
    * stored codes is the corruption the fingerprint contract exists to
    * prevent. */
  def save(spark: org.apache.spark.sql.SparkSession, model: PqModel,
      dir: String): Unit = {
    val fs = metaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    savedFingerprint(spark, dir) match {
      case Some(have) =>
        require(have == model.fingerprint,
          s"$dir already holds a PQ model with fingerprint $have; " +
            s"refusing to overwrite with ${model.fingerprint} — stored " +
            "pq_code rows would silently stop matching. Delete the model " +
            "dir to retire the index explicitly.")
      // identical model already saved: idempotent no-op
      case None =>
        import spark.implicits._
        val rows = for {
          (book, mi) <- model.codebooks.zipWithIndex
          (cent, c) <- book.zipWithIndex
          (x, p) <- cent.zipWithIndex
        } yield (mi, c, p, x)
        rows.toDF("m", "c", "pos", "value")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
        ControlFiles.write(fs, metaPath(dir),
          ControlFiles.PqMeta(model.m, model.k, model.subDim, model.fingerprint), overwrite = true)
    }
  }

  /** The stored fingerprint, None when no model is saved. A meta file
    * that does not decode fails loudly: reading it as "no model" would
    * retrain and overwrite the codebooks stored codes were written under. */
  private def savedFingerprint(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[String] = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val fp = ControlFiles.read[ControlFiles.PqMeta](fs, p).fingerprint
      if (fp == null) throw new ControlFiles.Unparseable(
        s"PQ model meta $p has no fingerprint", null)
      Some(fp)
    }
  }

  /** Load the model saved under `dir`, or None. The recomputed
    * fingerprint must match the stored one (require) — a partial write
    * or hand-edited sidecar fails loudly instead of silently
    * mis-decoding stored codes. */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[PqModel] =
    savedFingerprint(spark, dir).map { want =>
      val rows = spark.read.parquet(s"$dir/codebooks").collect()
      val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, mRows) =>
        mRows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (_, cRows) =>
          cRows.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq
        }.toIndexedSeq
      }.toIndexedSeq
      val model = PqModel(books)
      require(model.fingerprint == want,
        s"PQ model at $dir is corrupt: stored fingerprint $want, " +
          s"recomputed ${model.fingerprint}")
      model
    }

  /** Session-portable model fetch: reuse the persisted model — no
    * training, no scan of `df` — or train on `df`, round to the 6-dp
    * literal grid, and persist for every later session. Mismatched
    * requested geometry vs a saved model is a config error. */
  def loadOrTrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      df: => DataFrame, vecCol: String, idCol: String, dim: Int,
      m: Int, k: Int, iters: Int = 3): PqModel =
    load(spark, dir) match {
      case Some(saved) =>
        require(saved.m == m && saved.k == k && saved.subDim * saved.m == dim,
          s"PQ model at $dir has geometry m=${saved.m} k=${saved.k} " +
            s"dim=${saved.m * saved.subDim}, requested m=$m k=$k dim=$dim")
        saved
      case None =>
        val model = round6(train(df, vecCol, idCol, dim, m, k, iters))
        save(spark, model, dir)
        model
    }
}
