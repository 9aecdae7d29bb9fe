package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ControlFiles
import graft.functions.{VectorFunctions => V}

/** IVF (inverted-file) approximate nearest neighbor — the
  * *learned-centroid* scale path for similarity search, complementing the
  * data-independent LSH router:
  *
  *  1. `train`: deterministic k-means over the corpus (init = first k
  *     vectors in id order, fixed iteration count) — all assignment work
  *     is distributed DataFrame ops; only the k×dim centroid matrix ever
  *     reaches the driver (tiny, broadcast back as literals).
  *  2. `assign`: cell id = argmin centroid L2 — a pure expression, so at
  *     ingest time the cell becomes a partition column exactly like the
  *     LSH shard (directory pruning at query time).
  *  3. `search`: rank cells by centroid distance to the query
  *     (driver-side, k ops), scan only the top `nprobe` cells, exact
  *     top-k inside — recall/cost dial identical in spirit to
  *     `Lake.topKMultiProbe`.
  *
  * At 100 TB: train on a sample, assign map-side on ingest, and a query
  * touches nprobe/k of the data. The k-means ITERATION is not portably
  * bit-stable across engines, but the consumed surface is:
  * [[graft.queries.AnnQueries]] oracle-pairs assignment + nprobe scan by
  * inlining the rounded final centroids as SQL literals; recall and
  * invariant coverage lives in IvfSpec.
  */
object Ivf {

  final case class IvfModel(centroids: IndexedSeq[IndexedSeq[Double]]) {
    def k: Int = centroids.length
    def dim: Int = centroids.head.length

    /** Stable fingerprint on the same 6-dp grid the assignment
      * expression quantizes through — the contract
      * [[graft.operators.Pq.PqModel.fingerprint]] established: two
      * models that would assign identical cells fingerprint
      * identically; any retrain that moves a centroid does not. */
    lazy val fingerprint: String = {
      val sb = new StringBuilder
      centroids.foreach(_.foreach { x =>
        sb.append(java.lang.String.format(java.util.Locale.ROOT,
          "%.6f", Double.box(V.round6d(x)))).append(',')
      })
      java.security.MessageDigest.getInstance("MD5")
        .digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    /** Cell assignment as an expression: argmin over k squared-L2
      * distances to literal centroids (array-of-structs min trick —
      * lexicographic min on (dist, idx) is deterministic on ties). */
    def assignCol(vec: Column): Column = {
      val pairs = centroids.zipWithIndex.map { case (c, i) =>
        struct(
          V.l2Dist(vec, V.vecLit(c)).as("d"),
          lit(i).as("i"))
      }
      array_min(array(pairs: _*)).getField("i")
    }

    /** Driver-side cell ranking for a query vector. */
    def cellsFor(q: Seq[Double], nprobe: Int): Seq[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        val d = c.iterator.zip(q.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
        (d, i)
      }.sorted.take(nprobe).map(_._2)
  }

  /** Deterministic k-means (Lloyd's, `iters` fixed rounds, no RNG). */
  def train(df: DataFrame, vecCol: String, idCol: String, k: Int, iters: Int = 5): IvfModel = {
    val base = df.select(col(idCol).as("_id"), V.asDouble(col(vecCol)).as("_v"))
    val init = base.orderBy("_id").limit(k).collect()
    // an empty sample would otherwise surface iterations later as an
    // opaque AnalysisException (argmin over an empty centroid array)
    require(init.nonEmpty,
      "k-means training sample is empty — train on a non-empty frame")
    var model = IvfModel(init.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq)
    (0 until iters).foreach { _ =>
      val assigned = base.withColumn("_cell", model.assignCol(col("_v")))
      val centroids = assigned
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy("_cell", "_pos").agg(avg("_x").as("_m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
        }
      // empty cells keep their previous centroid
      model = IvfModel(model.centroids.indices.map(i =>
        centroids.getOrElse(i, model.centroids(i))).toIndexedSeq)
    }
    model
  }

  /** Attach the cell column (partition/bucket this on write at scale). */
  def index(df: DataFrame, model: IvfModel, vecCol: String): DataFrame =
    df.withColumn("cell", model.assignCol(col(vecCol)))

  /** nprobe-cell ANN: scan only the closest cells, exact rank inside. */
  def search(indexed: DataFrame, model: IvfModel, vecCol: String, idCol: String,
      q: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val cells = model.cellsFor(q, nprobe)
    indexed
      .where(col("cell").isin(cells: _*))
      .withColumn("dist", round(V.cosineDist(col(vecCol), V.vecLit(q)), 6))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  // ---- persistence -------------------------------------------------
  //
  // Stored `cell` values are only meaningful under the centroids that
  // assigned them — the same contract `pq_code` has with its codebooks
  // (Lake._meta.json pq_fingerprint). k-means is deterministic only
  // over the IDENTICAL training sample: a new session training on a
  // re-ingested, compacted, or grown corpus converges elsewhere and
  // silently reassigns cells, so a persisted index probed with a
  // fresh-trained model returns wrong neighbors with no error. The fix
  // is the same as PQ's: persist the model WITH the data and require
  // the fingerprint to match.
  //
  // Layout under `dir` (use `<lake-or-index-root>/_ivf` — the
  // underscore prefix keeps it out of Spark's data file index):
  // `centroids` parquet (cell, pos, value — tiny, k×dim rows) plus
  // `_ivf_meta.json` {k, dim, fingerprint}.

  private def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_ivf_meta.json")

  /** Persist `model` under `dir`. Refuses (require) to overwrite a
    * DIFFERENT model: replacing the centroids under a live index is
    * exactly the silent-reassignment hazard persistence exists to
    * close — delete the dir explicitly to retire an index. Saving the
    * identical model is an idempotent no-op. */
  def save(spark: org.apache.spark.sql.SparkSession, model: IvfModel,
      dir: String): Unit = {
    val fs = metaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    savedFingerprint(spark, dir) match {
      case Some(have) =>
        require(have == model.fingerprint,
          s"$dir already holds an IVF model with fingerprint $have; " +
            s"refusing to overwrite with ${model.fingerprint} — stored cell " +
            "assignments would silently stop matching. Delete the model dir " +
            "to retire the index explicitly.")
      // identical model already saved: idempotent no-op
      case None =>
        import spark.implicits._
        val rows = for {
          (c, i) <- model.centroids.zipWithIndex
          (x, p) <- c.zipWithIndex
        } yield (i, p, x)
        rows.toDF("cell", "pos", "value")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
        ControlFiles.write(fs, metaPath(dir),
          ControlFiles.IvfMeta(model.k, model.dim, model.fingerprint), overwrite = true)
    }
  }

  /** The stored fingerprint, None when no model is saved. A meta file
    * that does not decode fails loudly: reading it as "no model" would
    * retrain and overwrite the centroids stored rows were assigned by. */
  private def savedFingerprint(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[String] = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val fp = ControlFiles.read[ControlFiles.IvfMeta](fs, p).fingerprint
      if (fp == null) throw new ControlFiles.Unparseable(
        s"IVF model meta $p has no fingerprint", null)
      Some(fp)
    }
  }

  /** Load the model saved under `dir`, or None if nothing is saved.
    * The loaded centroids' recomputed fingerprint must match the
    * stored one (require) — a partial write or hand-edited sidecar
    * fails loudly instead of silently mis-assigning. */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[IvfModel] =
    savedFingerprint(spark, dir).map { want =>
      val rows = spark.read.parquet(s"$dir/centroids").collect()
      val centroids = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (_, rs) =>
          rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
        }.toIndexedSeq
      val model = IvfModel(centroids)
      require(model.fingerprint == want,
        s"IVF model at $dir is corrupt: stored fingerprint $want, " +
          s"recomputed ${model.fingerprint}")
      model
    }

  /** The session-portable model fetch: reuse the model persisted under
    * `dir` — NO training, no scan of `df` — or train on `df` and
    * persist for every later session. A saved model trained at a
    * different `k` than requested is a config error, not a retrain. */
  def loadOrTrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      df: => DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 5): IvfModel =
    load(spark, dir) match {
      case Some(m) =>
        require(m.k == k,
          s"IVF model at $dir was trained with k=${m.k}, requested k=$k")
        m
      case None =>
        val m = train(df, vecCol, idCol, k, iters)
        save(spark, m, dir)
        m
    }
}
