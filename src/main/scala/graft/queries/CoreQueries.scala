package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixtures, Lake, LakeConfig, Tables}
import graft.functions.{Lsh, VectorFunctions => V}

/** The core query inventory (SURVEY.md §7.4): the reference's vector-store
  * semantics (kNN, LSH routing, shard pruning) plus the relational /
  * analytic coverage the reference lacks (§2.10). Every query is fully
  * deterministic: rounded floats, total ordering with id tiebreaks, no
  * uuids/timestamps in output (SURVEY.md §7.5).
  */
object CoreQueries {
  private val Qv = Fixtures.queryVec
  private val lsh = Lsh.default

  /** Cosine-distance column vs the flagship literal query vector
    * (round6z: −0.0-free on both engine and oracle sides). */
  private def cosQ = V.round6z(V.cosineDist(col("embedding"), V.vecLit(Qv)))

  // -------------------------------------------------------------- kNN --

  val qKnnCosine = Q(
    "q_knn_cosine",
    (s, dir) => Tables.embeddings(s, dir)
      .select(col("vec_id"), cosQ.as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10),
    Some(s"""SELECT vec_id, ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS dist
             FROM embeddings ORDER BY dist, vec_id LIMIT 10"""))

  val qKnnL2 = Q(
    "q_knn_l2",
    (s, dir) => Tables.embeddings(s, dir)
      .select(col("vec_id"),
        round(V.l2Dist(col("embedding"), V.vecLit(Qv)), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10),
    Some(s"""SELECT vec_id, round(${V.sqlL2DistLit("embedding", Qv)}, 6) AS dist
             FROM embeddings ORDER BY dist, vec_id LIMIT 10"""))

  val qKnnDot = Q(
    "q_knn_dot",
    (s, dir) => Tables.embeddings(s, dir)
      .select(col("vec_id"),
        V.round6z(V.dot(col("embedding"), V.vecLit(Qv))).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10),
    Some(s"""SELECT vec_id, ${V.sqlRound6z(V.sqlDotLit("embedding", Qv))} AS score
             FROM embeddings ORDER BY score DESC, vec_id LIMIT 10"""))

  // ------------------------------------------------- LSH routing/prune --

  val qLshRoute = Q(
    "q_lsh_route",
    (s, dir) => Tables.embeddings(s, dir)
      .select(lsh.shardCol(col("embedding")).as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("cnt"))
      .orderBy("shard"),
    Some(s"""SELECT ${lsh.sqlShardExpr("embedding")} AS shard,
             CAST(count(*) AS BIGINT) AS cnt
             FROM embeddings GROUP BY 1 ORDER BY shard"""))

  val qKnnPruned = Q(
    "q_knn_pruned",
    (s, dir) => {
      val routed = lsh.shardOf(Qv)
      Tables.embeddings(s, dir)
        .where(lsh.shardCol(col("embedding")) === lit(routed))
        .select(col("vec_id"), cosQ.as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },
    Some {
      val routed = lsh.shardOf(Qv)
      s"""SELECT vec_id, ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS dist
          FROM embeddings WHERE ${lsh.sqlShardExpr("embedding")} = $routed
          ORDER BY dist, vec_id LIMIT 10"""
    })

  /** Multi-probe (Hamming≤1) pruned kNN — the IVF-style recall dial. */
  val qKnnMultiProbe = Q(
    "q_knn_multiprobe",
    (s, dir) => {
      val routed = lsh.shardOf(Qv)
      val probes = routed +: (0 until lsh.numHashes).map(j => routed ^ (1 << j))
      Tables.embeddings(s, dir)
        .where(lsh.shardCol(col("embedding")).isin(probes: _*))
        .select(col("vec_id"), cosQ.as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },
    Some {
      val routed = lsh.shardOf(Qv)
      val probes = routed +: (0 until lsh.numHashes).map(j => routed ^ (1 << j))
      s"""SELECT vec_id, ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS dist
          FROM embeddings
          WHERE ${lsh.sqlShardExpr("embedding")} IN (${probes.mkString(", ")})
          ORDER BY dist, vec_id LIMIT 10"""
    })

  /** Hamming kNN over binarized embeddings: 64 float dims packed into
    * ONE sign-bit word per row (SignPackExpr), distance =
    * bit_count(xor) — the 32×-compression retrieval mode. At 100 TB the
    * packed column is what you'd materialize: integer-only scans, no
    * float math, and the word doubles as a coarse pre-filter for exact
    * reranking (compose with cosQ top-k). */
  val qKnnHamming = Q(
    "q_knn_hamming",
    (s, dir) => {
      val qWord = V.signPackOf(Qv)
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          bit_count(V.signPack(col("embedding")).bitwiseXOR(lit(qWord)))
            .cast("int").as("hamming"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(10)
    },
    Some {
      val qWord = V.signPackOf(Qv)
      s"""SELECT vec_id,
                 CAST(bit_count(xor(${V.sqlSignPack("embedding")}, $qWord)) AS INTEGER) AS hamming
          FROM embeddings ORDER BY hamming, vec_id LIMIT 10"""
    })

  /** Two-stage retrieval: coarse Hamming top-100 over the packed
    * sign-bit words (integer-only scan), exact cosine rerank to top-10
    * — how a compressed embedding column is actually used at 100 TB
    * (the full-precision vectors are touched for only 100 candidates).
    * Both stages are TakeOrderedAndProject heaps. */
  val qKnnRerank = Q(
    "q_knn_rerank",
    (s, dir) => {
      val qWord = V.signPackOf(Qv)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          bit_count(V.signPack(col("embedding")).bitwiseXOR(lit(qWord)))
            .cast("int").as("hamming"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(100)
        .select(col("vec_id"), cosQ.as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },
    Some {
      val qWord = V.signPackOf(Qv)
      s"""WITH coarse AS (
            SELECT vec_id, embedding
            FROM embeddings
            ORDER BY bit_count(xor(${V.sqlSignPack("embedding")}, $qWord)), vec_id
            LIMIT 100)
          SELECT vec_id, ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS dist
          FROM coarse ORDER BY dist, vec_id LIMIT 10"""
    })

  // -------------------------------------------------------- batch kNN --

  /** 10 query vectors × top-5 each: broadcast the (small) query set, one
    * scan of the data, per-query top-k via the bounded-heap
    * TypedImperativeAggregate — the batch form the reference cannot
    * express (SURVEY.md §3.3). At 100 TB the query set stays broadcast
    * and, unlike a window row_number (which shuffles every candidate
    * row), map-side partial aggregation ships at most k rows per query
    * per executor into the shuffle. */
  val qKnnBatch = Q(
    "q_knn_batch",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("vec"),
          V.l2Norm(col("embedding")).as("nrm"))
      val q = e.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"), col("nrm").as("qnrm"))
      e.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          V.round6z(lit(1.0) - V.cosineSimPre(V.dot(col("vec"), col("qvec")), col("nrm"), col("qnrm"))).as("dist"))
        .groupBy("qid")
        .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("vec_id")), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("qid"), col("p.id").as("vec_id"), col("p.dist").as("dist"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
                        ORDER BY vec_id LIMIT 10),
             d AS (SELECT q.qid, e.vec_id,
                          ${V.sqlRound6z(V.sqlCosineDistCols("e.embedding", "q.qvec"))} AS dist
                   FROM embeddings e CROSS JOIN q),
             r AS (SELECT qid, vec_id, dist,
                          CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INTEGER) AS rank
                   FROM d)
             SELECT qid, vec_id, dist, rank FROM r WHERE rank <= 5
             ORDER BY qid, rank"""))

  /** [[qKnnBatch]]'s at-scale twin (the [[graft.Lake.topKBatchRouted]]
    * shape): each of the 10 queries routes to its LSH shard, rows pair
    * with ONLY the queries routed to their shard (broadcast EQUI-join
    * on the shard value — Σ_s rows_s × queries_s distance evaluations,
    * never rows × queries), per-query top-5 off the bounded heap. The
    * single-probe recall contract of q_knn_pruned, batched; each query
    * finds itself at dist 0 (it lives in its own routed shard), a
    * built-in sanity row. */
  val qKnnBatchRouted = Q(
    "q_knn_batch_routed",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("vec"),
          V.l2Norm(col("embedding")).as("nrm"),
          lsh.shardCol(col("embedding")).as("shard"))
      val q = Tables.embeddings(s, dir).orderBy("vec_id").limit(10)
        .select(col("vec_id").as("qid"), V.asDouble(col("embedding")).as("qvec"),
          V.l2Norm(col("embedding")).as("qnrm"),
          lsh.shardCol(col("embedding")).as("qshard"))
      e.join(broadcast(q), col("shard") === col("qshard"))
        .select(col("qid"), col("vec_id"),
          V.round6z(lit(1.0) - V.cosineSimPre(V.dot(col("vec"), col("qvec")),
            col("nrm"), col("qnrm"))).as("dist"))
        .groupBy("qid")
        .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("vec_id")), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("qid"), col("p.id").as("vec_id"), col("p.dist").as("dist"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
                               ${lsh.sqlShardExpr("embedding")} AS shard
                        FROM embeddings),
             q AS (SELECT vec_id AS qid, embedding AS qvec, shard AS qshard
                   FROM e ORDER BY vec_id LIMIT 10),
             d AS (SELECT q.qid, e.vec_id,
                          ${V.sqlRound6z(V.sqlCosineDistCols("e.embedding", "q.qvec"))} AS dist
                   FROM e JOIN q ON e.shard = q.qshard),
             r AS (SELECT qid, vec_id, dist,
                          CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INTEGER) AS rank
                   FROM d)
             SELECT qid, vec_id, dist, rank FROM r WHERE rank <= 5
             ORDER BY qid, rank"""))

  /** [[qKnnBatchRouted]] with the nprobe dial OPEN (the
    * [[graft.Lake.topKBatchRouted]] `nprobe = 1 + numHashes` shape):
    * each query explodes to its full Hamming≤1 probe ladder — routed
    * shard plus one single-bit flip per hyperplane — and the join stays
    * the same broadcast EQUI-join on the shard value (a lake row meets
    * a query through at most ONE of its probes, so no dedup step is
    * needed). Per-query recall = q_knn_multiprobe's, batch cost still
    * Σ_s rows_s × queries_probing_s — the dial the single-probe routed
    * batch was missing. */
  val qKnnBatchRoutedMp = Q(
    "q_knn_batch_routed_mp",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("vec"),
          V.l2Norm(col("embedding")).as("nrm"),
          lsh.shardCol(col("embedding")).as("shard"))
      val flips = (0 until lsh.numHashes)
        .map(j => col("qrouted").bitwiseXOR(lit(1 << j)))
      val q = Tables.embeddings(s, dir).orderBy("vec_id").limit(10)
        .select(col("vec_id").as("qid"), V.asDouble(col("embedding")).as("qvec"),
          V.l2Norm(col("embedding")).as("qnrm"),
          lsh.shardCol(col("embedding")).as("qrouted"))
        .select(col("qid"), col("qvec"), col("qnrm"),
          explode(array((col("qrouted") +: flips): _*)).as("qshard"))
      e.join(broadcast(q), col("shard") === col("qshard"))
        .select(col("qid"), col("vec_id"),
          V.round6z(lit(1.0) - V.cosineSimPre(V.dot(col("vec"), col("qvec")),
            col("nrm"), col("qnrm"))).as("dist"))
        .groupBy("qid")
        .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("vec_id")), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("qid"), col("p.id").as("vec_id"), col("p.dist").as("dist"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("qid", "rank")
    },
    Some {
      val flipsSql = (0 until lsh.numHashes)
        .map(j => s"xor(q.qshard, ${1 << j})").mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding,
                            ${lsh.sqlShardExpr("embedding")} AS shard
                     FROM embeddings),
          q AS (SELECT vec_id AS qid, embedding AS qvec, shard AS qshard
                FROM e ORDER BY vec_id LIMIT 10),
          d AS (SELECT q.qid, e.vec_id,
                       ${V.sqlRound6z(V.sqlCosineDistCols("e.embedding", "q.qvec"))} AS dist
                FROM e JOIN q
                  ON list_contains([q.qshard, $flipsSql], e.shard)),
          r AS (SELECT qid, vec_id, dist,
                       CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INTEGER) AS rank
                FROM d)
          SELECT qid, vec_id, dist, rank FROM r WHERE rank <= 5
          ORDER BY qid, rank"""
    })

  // ---------------------------------------------------------- near-dup --

  /** Exact all-pairs cosine near-dup — the correctness BASELINE, bounded
    * to `vec_id < 500` exactly like its text twin q_ngram_jaccard
    * (doc_id < 200): a deliberately quadratic oracle check must never be
    * an unbounded cartesian in the registry. The LSH-bucketed variant
    * below is the unbounded 100 TB path. */
  val qNearDup = Q(
    "q_near_dup",
    (s, dir) => {
      // norms are precomputed per ROW (n ops), not per PAIR (n² ops) —
      // bit-identical to the oracle's per-pair sqrt(dot(x,x)) formula
      val e = Tables.embeddings(s, dir)
        .where(col("vec_id") < 500)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("vec"),
          V.l2Norm(col("embedding")).as("nrm")) // cast to double per ROW, not per pair
      val a = e.select(col("vec_id").as("a_id"), col("vec").as("a_vec"), col("nrm").as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("vec").as("b_vec"), col("nrm").as("b_nrm"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          V.round6z(V.cosineSimPre(V.dot(col("a_vec"), col("b_vec")), col("a_nrm"), col("b_nrm"))).as("sim"))
        .where(col("sim") > 0.5)
        .orderBy(col("sim").desc, col("a_id"), col("b_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)
             SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                    ${V.sqlRound6z(V.sqlCosineSimCols("a.embedding", "b.embedding"))} AS sim
             FROM e a JOIN e b ON a.vec_id < b.vec_id
             WHERE ${V.sqlRound6z(V.sqlCosineSimCols("a.embedding", "b.embedding"))} > 0.5
             ORDER BY sim DESC, a_id, b_id"""))

  /** LSH-bucketed near-dup: equi-join on the shard id — candidate pairs
    * only within a bucket, which is what makes near-dup linear-ish at
    * scale (shuffle on shard key instead of all-pairs). Runs through
    * [[graft.operators.EmbeddingDedup]] with blocks=4 salting: a skewed
    * hot bucket's quadratic pairing is spread over 10 block-pair keys
    * instead of stalling one task. Salting never changes the pair set,
    * so the oracle (a plain bucket join) stays row-identical; the width
    * dial (wider Lsh for exponentially smaller buckets) is exercised in
    * EmbeddingDedupSpec. */
  val qNearDupLsh = Q(
    "q_near_dup_lsh",
    (s, dir) => graft.operators.EmbeddingDedup
      .nearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        lsh, minSim = 0.4, blocks = 4)
      .orderBy(col("sim").desc, col("a_id"), col("b_id")),
    Some(s"""WITH e AS (SELECT vec_id, embedding,
                               ${lsh.sqlShardExpr("embedding")} AS shard FROM embeddings)
             SELECT a.shard, a.vec_id AS a_id, b.vec_id AS b_id,
                    ${V.sqlRound6z(V.sqlCosineSimCols("a.embedding", "b.embedding"))} AS sim
             FROM e a JOIN e b ON a.shard = b.shard AND a.vec_id < b.vec_id
             WHERE ${V.sqlRound6z(V.sqlCosineSimCols("a.embedding", "b.embedding"))} > 0.4
             ORDER BY sim DESC, a_id, b_id"""))

  // ------------------------------------------------------- filter/agg --

  val qFilterKnn = Q(
    "q_filter_knn",
    (s, dir) => Tables.embeddings(s, dir)
      .where(col("label") === 3)
      .select(col("vec_id"), col("label"), cosQ.as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10),
    Some(s"""SELECT vec_id, label, ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS dist
             FROM embeddings WHERE label = 3 ORDER BY dist, vec_id LIMIT 10"""))

  /** Per-label centroids via posexplode + avg — array agg without UDFs. */
  val qLabelCentroids = Q(
    "q_label_centroids",
    (s, dir) => Tables.embeddings(s, dir)
      .select(col("label"), posexplode(V.asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg("v"), 6).as("c"))
      .orderBy("label", "pos"),
    Some("""SELECT label, pos, round(avg(v), 6) AS c FROM (
              SELECT label, unnest(embedding::DOUBLE[]) AS v,
                     CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos
              FROM embeddings)
            GROUP BY label, pos ORDER BY label, pos"""))

  // ------------------------------------------------------------ joins --

  val qJoinDocs = Q(
    "q_join_docs",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val d = Tables.documents(s, dir)
      e.join(broadcast(d), e("vec_id") === d("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), round(avg("n_chars"), 6).as("avg_chars"))
        .orderBy("lang")
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
                   round(avg(n_chars), 6) AS avg_chars
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
            GROUP BY lang ORDER BY lang"""))

  // ------------------------------------------------------- text/events --

  val qTextStats = Q(
    "q_text_stats",
    (s, dir) => Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("cnt"),
        round(avg(length(col("text"))), 6).as("avg_len"),
        countDistinct(col("text")).as("n_uniq"))
      .orderBy("lang", "source"),
    Some("""SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt,
                   round(avg(length(text)), 6) AS avg_len,
                   CAST(count(DISTINCT text) AS BIGINT) AS n_uniq
            FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  val qEventsWindow = Q(
    "q_events_window",
    (s, dir) => Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("day", "event_type"),
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  val qEventsRollup = Q(
    "q_events_rollup",
    (s, dir) => Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .rollup("event_type", "day")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("cnt"), col("sum_value"))
      .orderBy("event_type", "day"),
    Some("""SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(day, 'ALL') AS day,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value FROM events)
            GROUP BY ROLLUP(event_type, day) ORDER BY event_type, day"""))

  // -------------------------------------------- lake write/read round --

  /** Ingests embeddings through the Lake write path (uuid/ts/shard,
    * partitioned parquet), reads it back, aggregates per shard. The
    * oracle computes the same stats straight from `embeddings` — equality
    * proves the roundtrip preserved vectors and routed identically. */
  /** 6 hashes → 64 shards here, not the reference-mirroring 256 of
    * q_lsh_route: partition count should track data volume (dirs-per-row
    * matters — at sf0.1 the table is 2k rows; 256 dirs would be the
    * small-files antipattern this engine is built to avoid). The
    * hyperplane matrix is prefix-stable, so 6-hash routing is the
    * 8-hash routing masked to 6 bits on both engines. */
  /** The (session, sfDir)-scoped fixture lake the read-back queries
    * share — built once (BuiltFixtures scaladoc), so q_shard_stats and
    * the DSv2-format twin q_sql_scan measure the SERVE path. */
  private def shardStatsLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "shard_stats") {
      // session-scoped (q_export_shards posture): a read-back round-trip
      // must not share its tree with a concurrent session on the same sfDir
      val tmp = BuiltFixtures.sessionTmp(s, dir, "lake")
      val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6))
      l.delete()
      l.ingest(Tables.embeddings(s, dir)
        .select(col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document")))
      l
    }

  val qShardStats = Q(
    "q_shard_stats",
    (s, dir) => {
      // built once per (session, sfDir) — BuiltFixtures scaladoc; the
      // measured surface is the partitioned-lake read-back profile
      val lake = shardStatsLake(s, dir)
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
             FROM embeddings GROUP BY 1 ORDER BY shard"""))

  /** A lake built at 32 shards from HALF the corpus, incrementally
    * RESHARDED to 128 (a two-hyperplane, 4-way-split refinement) with
    * the resumable path exercised — one committed step first, then
    * resume to completion — and the other half ingested AFTER, so the
    * final layout mixes reshard-derived rows with directly-routed
    * ones. Built once per (session, sfDir). */
  private def reshardStatsLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "reshard_stats") {
      val tmp = BuiltFixtures.sessionTmp(s, dir, "reshard")
      val narrow = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 5))
      narrow.delete()
      val base = Tables.embeddings(s, dir)
        .select(col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document"),
          pmod(col("vec_id"), lit(2)).as("m"))
      narrow.ingest(base.where(col("m") === 0).drop("m"))
      val mid = narrow.reshard(7, maxDirs = 1, dirsPerCommit = 1)
      val wide = mid.reshard(7) // resume to completion
      wide.ingest(base.where(col("m") =!= 0).drop("m"))
      wide
    }

  /** Per-shard profile of the RESHARDED lake ([[reshardStatsLake]]) —
    * the reshard correctness gate the driver can hash-check: the
    * oracle recomputes every row's routing straight from raw
    * `embeddings` AT THE NEW 7-hyperplane width, so hash-equality
    * proves incremental refinement (stored 5-bit shard + derived high
    * bits, committed directory by directory) lands every row exactly
    * where direct width-7 routing would — across the resumable-step
    * boundary and mixed with post-reshard ingests. Scale shape: the
    * reshard itself was per-directory committed rewrites (O(lake)
    * once, interruptible); the query is the usual partitioned scan +
    * hash agg. */
  val qReshardStats = Q(
    "q_reshard_stats",
    (s, dir) => {
      val lake = reshardStatsLake(s, dir)
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""SELECT ${Lsh(64, 7).sqlShardExpr("embedding")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
             FROM embeddings GROUP BY 1 ORDER BY shard"""))

  /** Single-probe kNN SERVED THROUGH the resharded lake — the end use
    * the reshard exists for, oracle-checked: the query routes at the
    * NEW 7-hyperplane width, the pruned read crosses the fixture's
    * mixed layout (reshard-step generations + post-reshard ingests),
    * and the oracle recomputes the same top-10 from raw `embeddings`
    * with direct width-7 routing — so hash-equality proves the
    * resharded lake serves pruned search exactly as a natively
    * width-7 lake would. Deterministic by the house rule: round
    * before ordering, full document tiebreak. */
  val qKnnResharded = Q(
    "q_knn_resharded",
    (s, dir) => {
      val lake = reshardStatsLake(s, dir)
      val routed = Lsh(64, 7).shardOf(Qv)
      lake.read().where(col("shard") === routed)
        .select(col("document"),
          V.round6z(V.cosineDist(col("vector"), V.vecLit(Qv))).as("dist"))
        .orderBy(col("dist"), col("document"))
        .limit(10)
    },
    Some {
      val routed = Lsh(64, 7).shardOf(Qv)
      s"""SELECT 'doc-' || vec_id AS document,
                ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS dist
          FROM embeddings WHERE ${Lsh(64, 7).sqlShardExpr("embedding")} = $routed
          ORDER BY dist, document LIMIT 10"""
    })

  /** The fixture lake read back through the `graft` DSv2 FORMAT and
    * aggregated in PURE SQL over a temp view — the SQL-only user's
    * whole path (`spark.read.format("graft")` / `CREATE TABLE ...
    * USING graft`), proving the format's manifest-driven partition
    * spec serves the identical generation-aware live set as the Scala
    * [[graft.Lake.read]]. Distinct aggregation from [[qShardStats]]
    * (count + norm extremes, not the mean) so the two surfaces cannot
    * mask each other's bugs. Scale shape: one partitioned scan, hash
    * agg on the partition column — the format adds zero data-plane
    * cost over the native read (same parquet scan, same pruning). */
  val qSqlScan = Q(
    "q_sql_scan",
    (s, dir) => {
      val lake = shardStatsLake(s, dir)
      val view = "graft_sql_scan_" +
        java.lang.Integer.toHexString(System.identityHashCode(s))
      s.read.format("graft").load(lake.cfg.location)
        .select(col("shard"), V.l2Norm(col("vector")).as("norm"))
        .createOrReplaceTempView(view)
      s.sql(s"""SELECT shard, CAST(count(*) AS BIGINT) AS cnt,
                       round(min(norm), 6) AS min_norm,
                       round(max(norm), 6) AS max_norm
                FROM $view GROUP BY shard ORDER BY shard""")
    },
    Some(s"""SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    round(min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
                    round(max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
             FROM embeddings GROUP BY 1 ORDER BY shard"""))

  /** The (session, sfDir)-scoped lake built ENTIRELY through the DSv2
    * batch WRITE path — `df.write.format("graft").mode("append")` with
    * a subset schema over an evolve()d lake — so the registry holds an
    * oracle-checked query whose input rows never touched the Scala
    * ingest API. Shard routing, derive defaults, and the evolved
    * `label` extra all come from the write path under test
    * ([[graft.sources.GraftTable.newWriteBuilder]]); hash-equality
    * with the DuckDB oracle (which recomputes routing from raw
    * `embeddings`) proves the SQL write landed every row, routed it
    * identically, and carried the extra column bit-exactly. */
  private def sqlInsertLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "sql_insert") {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val tmp = BuiltFixtures.sessionTmp(s, dir, "sql_lake")
      val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6))
      l.delete()
      l.evolve(StructType(Seq(StructField("label", IntegerType))))
      Tables.embeddings(s, dir)
        .select(col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document"),
          col("label"))
        .write.format("graft").mode("append").save(tmp)
      l
    }

  /** Per-shard profile of the SQL-written lake ([[sqlInsertLake]]),
    * aggregated in pure SQL through the format read — the full
    * SQL-only round trip (write → read → aggregate) against the
    * DuckDB oracle on the raw table. Distinct aggregation from
    * q_shard_stats (avg) and q_sql_scan (min/max): count + distinct
    * evolved labels + mean norm, so the three surfaces cannot mask
    * each other. Scale shape: one partitioned scan, hash agg on the
    * partition column. */
  val qSqlInsert = Q(
    "q_sql_insert",
    (s, dir) => {
      val lake = sqlInsertLake(s, dir)
      val view = "graft_sql_insert_" +
        java.lang.Integer.toHexString(System.identityHashCode(s))
      s.read.format("graft").load(lake.cfg.location)
        .select(col("shard"), col("label"),
          V.l2Norm(col("vector")).as("norm"))
        .createOrReplaceTempView(view)
      s.sql(s"""SELECT shard, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(count(DISTINCT label) AS BIGINT) AS labels,
                       round(avg(norm), 6) AS avg_norm
                FROM $view GROUP BY shard ORDER BY shard""")
    },
    Some(s"""SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(DISTINCT label) AS BIGINT) AS labels,
                    round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
             FROM embeddings GROUP BY 1 ORDER BY shard"""))

  /** The (session, sfDir)-scoped lake mutated ENTIRELY through SQL
    * row-level DML ([[graft.sources.GraftRowLevelBuilder]]): a MERGE
    * negates every `vec_id % 9 = 0` vector (shard-moving updates
    * through the delta path), an UPDATE renames every `vec_id % 10 =
    * 0` document, and a subquery DELETE removes every `vec_id % 10 =
    * 5` row (the non-pushable delete shape). Built once per (session,
    * sfDir); the oracle recomputes the same mutations from raw
    * `embeddings`, so hash-equality proves the DML surface updated,
    * re-routed, renamed, and deleted exactly the claimed rows and
    * corrupted none. */
  private def sqlDmlLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "sql_dml") {
      val tmp = BuiltFixtures.sessionTmp(s, dir, "dml_lake")
      val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6))
      l.delete()
      l.ingest(Tables.embeddings(s, dir)
        .select(col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document")))
      val tag = java.lang.Integer.toHexString(System.identityHashCode(s))
      val cat = s"graftdml$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        BuiltFixtures.sessionTmp(s, dir, "dml_wh"))
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
      val t = s"$cat.default.corpus"
      s.sql(s"CREATE TABLE IF NOT EXISTS $t USING graft LOCATION '$tmp'")
      Tables.embeddings(s, dir).where(col("vec_id") % 9 === 0)
        .select(concat(lit("doc-"), col("vec_id")).as("key"),
          transform(col("embedding"), x => -x).as("vec"))
        .createOrReplaceTempView(s"dml_src_$tag")
      s.sql(s"""MERGE INTO $t x USING dml_src_$tag s ON x.document = s.key
                WHEN MATCHED THEN UPDATE SET vector = s.vec""")
      s.sql(s"""UPDATE $t SET document = concat('upd-', document)
                WHERE document LIKE '%0'""")
      Tables.embeddings(s, dir).where(col("vec_id") % 10 === 5)
        .select(concat(lit("doc-"), col("vec_id")).as("doomed"))
        .createOrReplaceTempView(s"dml_del_$tag")
      s.sql(s"""DELETE FROM $t
                WHERE document IN (SELECT doomed FROM dml_del_$tag)""")
      l
    }

  /** Per-shard profile of the SQL-DML-mutated lake ([[sqlDmlLake]]) —
    * row count, renamed-row count, and mean norm per POST-MUTATION
    * shard. The oracle applies the same negate/rename/delete from raw
    * `embeddings` (a negated vector's shard recomputes through the
    * same hyperplane expression), so the hash pins every DML effect:
    * a row not re-routed, a rename missed or over-applied, a delete
    * leak, or a vector corrupted by the delta codec all flip it.
    * Scale shape: DML cost is O(changed rows staged + affected
    * partitions rewritten) — see GraftRowLevelBuilder; the query is
    * the usual partitioned scan + hash agg. */
  val qSqlDml = Q(
    "q_sql_dml",
    (s, dir) => {
      val lake = sqlDmlLake(s, dir)
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("document").startsWith("upd-"), 1L).otherwise(0L))
            .as("renamed"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""WITH base AS (
               SELECT CASE WHEN vec_id % 9 = 0
                           THEN list_transform(embedding, x -> -x)
                           ELSE embedding END AS emb,
                      CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END AS renamed
               FROM embeddings WHERE vec_id % 10 <> 5)
             SELECT ${Lsh(64, 6).sqlShardExpr("emb")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    CAST(sum(renamed) AS BIGINT) AS renamed,
                    round(avg(sqrt(list_dot_product(emb::DOUBLE[], emb::DOUBLE[]))), 6) AS avg_norm
             FROM base GROUP BY 1 ORDER BY shard"""))

  /** A DEEP CLONE of the fixture lake ([[graft.Lake.cloneTo]] — the
    * experiment-fork op), built once per (session, sfDir). The
    * measured surface is the CLONE's read-back: hash-equality with an
    * oracle that recomputes routing from raw `embeddings` proves the
    * clone carried every row, vector, and shard assignment
    * byte-faithfully with nothing re-derived. */
  private def cloneStatsLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "clone_stats") {
      val src = shardStatsLake(s, dir)
      val tmp = BuiltFixtures.sessionTmp(s, dir, "clone")
      Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6)).delete()
      src.cloneTo(tmp)
    }

  /** Per-shard profile of the CLONED lake — distinct aggregation from
    * its source twin q_shard_stats (count + DISTINCT documents +
    * norm max, not the mean), so a clone bug cannot hide behind the
    * source query's green. Scale shape: one distributed copy job built
    * the fixture; the query itself is the usual partitioned scan +
    * hash agg on the partition column. */
  val qCloneStats = Q(
    "q_clone_stats",
    (s, dir) => {
      val lake = cloneStatsLake(s, dir)
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("document")).as("docs"),
          round(max(V.l2Norm(col("vector"))), 6).as("max_norm"))
        .orderBy("shard")
    },
    Some(s"""SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(DISTINCT 'doc-' || vec_id) AS BIGINT) AS docs,
                    round(max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
             FROM embeddings GROUP BY 1 ORDER BY shard"""))

  /** A REPLICA advanced by the netted change feed ([[graft.Lake
    * .syncFrom]] — the replication op), built once per (session,
    * sfDir). A fresh source lake over `embeddings` is sealed (A) and
    * deep-cloned; the source then mutates through the full mix —
    * deletes (doc ids ending in 0), shard-MOVING replacements
    * (vectors negated for doc ids ending in 1 re-route to new
    * directories), and a compaction whose rewritten-but-identical
    * rows must net to ZERO in the feed — and seals again (B). The
    * replica applies `changesBetween(A, B)`: O(churn + affected
    * partitions), never a re-copy. */
  private def syncStatsLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "sync_stats") {
      val src = Lake(s, LakeConfig(
        BuiltFixtures.sessionTmp(s, dir, "sync_src"), dim = 64, numHashes = 6))
      src.delete()
      src.ingest(Tables.embeddings(s, dir)
        .select(col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document")))
      val a = src.seal()
      val repTmp = BuiltFixtures.sessionTmp(s, dir, "sync_rep")
      Lake(s, LakeConfig(repTmp, dim = 64, numHashes = 6)).delete()
      val replica = src.cloneTo(repTmp, asOf = Some(a))
      src.deleteWhere(col("document").endsWith("0"))
      src.upsert(src.read().where(col("document").endsWith("1"))
        .select(transform(col("vector"), v => -v).as("vector"),
          col("document"), col("id")))
      src.compact()
      val b = src.seal()
      replica.syncFrom(src, a, b)
      replica
    }

  /** Per-shard profile of the SYNCED replica ([[syncStatsLake]]) —
    * the replication correctness gate the driver can hash-check: the
    * oracle recomputes the mutated corpus (deletes out, negated
    * vectors re-routed through LSH) straight from raw `embeddings`,
    * so equality proves the feed carried exactly the churn — deletes
    * applied, replacements landed on their NEW shards, untouched rows
    * byte-stable, compaction contributing nothing. Distinct
    * aggregation from its fixture cousins (count + distinct docs +
    * norm MIN; q_shard_stats avg, q_sql_scan min/max over a different
    * lake, q_clone_stats max) so the surfaces cannot mask each other.
    * Scale shape: the sync was O(churn); the query is one partitioned
    * scan + hash agg on the partition column. */
  val qSyncStats = Q(
    "q_sync_stats",
    (s, dir) => {
      val lake = syncStatsLake(s, dir)
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("document")).as("docs"),
          round(min(V.l2Norm(col("vector"))), 6).as("min_norm"))
        .orderBy("shard")
    },
    Some(s"""WITH synced AS (
               SELECT vec_id,
                      CASE WHEN vec_id % 10 = 1
                           THEN list_transform(embedding, x -> -x)
                           ELSE embedding END AS v
               FROM embeddings WHERE vec_id % 10 <> 0)
             SELECT ${Lsh(64, 6).sqlShardExpr("v")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(DISTINCT 'doc-' || vec_id) AS BIGINT) AS docs,
                    round(min(sqrt(list_dot_product(v::DOUBLE[], v::DOUBLE[]))), 6) AS min_norm
             FROM synced GROUP BY 1 ORDER BY shard"""))

  /** A lake that went through TIERED TTL RETENTION ([[graft.Lake
    * .expire]]), built once per (session, sfDir) with FIXED absolute
    * timestamps so the outcome never depends on the run's clock: rows
    * with `vec_id % 3 == 0` carry a 2020 ingest timestamp and are
    * sealed (with a zone map) into manifest directories — the
    * WHOLESALE tier retires them by one sidecar commit, no reads —
    * while the rest carry 2026 timestamps and survive. The horizon is
    * 2023. */
  private def expireStatsLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "expire_stats") {
      val l = Lake(s, LakeConfig(
        BuiltFixtures.sessionTmp(s, dir, "expire"), dim = 64, numHashes = 6))
      l.delete()
      val base = Tables.embeddings(s, dir)
        .select(col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document"),
          pmod(col("vec_id"), lit(3)).as("m"))
      l.ingest(base.where(col("m") === 0).drop("m")
        .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))))
      l.buildZoneMap()
      l.seal() // the 2020 dirs become manifest entries
      l.ingest(base.where(col("m") =!= 0).drop("m")
        .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))))
      l.expire(java.time.Instant.parse("2023-01-01T00:00:00Z"))
      l
    }

  /** Per-shard profile of the EXPIRED lake ([[expireStatsLake]]) — the
    * retention correctness gate the driver can hash-check: the oracle
    * recomputes the surviving corpus (`vec_id % 3 <> 0`) and its LSH
    * routing straight from raw `embeddings`, so equality proves the
    * wholesale manifest retirement dropped exactly the expired rows
    * and ONLY them, with survivors byte-stable. Scale shape: the
    * retention itself was one sidecar commit; the query is the usual
    * partitioned scan + hash agg. */
  val qExpireStats = Q(
    "q_expire_stats",
    (s, dir) => {
      val lake = expireStatsLake(s, dir)
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("document")).as("docs"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(DISTINCT 'doc-' || vec_id) AS BIGINT) AS docs,
                    round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
             FROM embeddings WHERE vec_id % 3 <> 0
             GROUP BY 1 ORDER BY shard"""))

  /** A DIVERGED clone of the fixture lake — the replica-audit
    * fixture: a deep clone with the rows whose document ends in "0"
    * deleted, so [[qReplicaDiff]] has real per-shard divergence to
    * convict (deletion-only, so the oracle can recompute the verdict
    * from raw `embeddings`). Built once per (session, sfDir). */
  private def divergedCloneLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "replica_diff") {
      val src = shardStatsLake(s, dir)
      val tmp = BuiltFixtures.sessionTmp(s, dir, "diffrep")
      Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6)).delete()
      val rep = src.cloneTo(tmp)
      rep.deleteWhere(col("document").endsWith("0"))
      rep
    }

  /** [[graft.Lake.diffStats]] between the fixture lake and its
    * diverged clone — the replication VERIFICATION op as a registry
    * query: per-shard row counts on both sides plus the
    * fingerprint-backed `in_sync` verdict (cast to int for the
    * oracle). The oracle recomputes both counts and the verdict from
    * raw `embeddings` (`doc-<vec_id>` ends in "0" ⇔ `vec_id % 10 =
    * 0`), so hash-equality proves the audit counts every survivor,
    * misses no divergence, and convicts no healthy shard. Scale
    * shape: the end-to-end STORAGE-PARTITIONED-JOIN pattern — both
    * per-shard aggregates ride keyed file partitions and the final
    * join is co-located (GraftSpjSpec pins the zero-exchange plan);
    * the only moving data is two aggregated rows per shard. */
  val qReplicaDiff = Q(
    "q_replica_diff",
    (s, dir) => {
      val src = shardStatsLake(s, dir)
      val rep = divergedCloneLake(s, dir)
      src.diffStats(rep)
        .select(col("shard"), col("cnt"), col("other_cnt"),
          col("in_sync").cast("int").as("in_sync"))
        .orderBy("shard")
    },
    Some(s"""SELECT shard, CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(*) FILTER (WHERE vec_id % 10 <> 0) AS BIGINT) AS other_cnt,
                    CAST(count(*) = count(*) FILTER (WHERE vec_id % 10 <> 0) AS INTEGER) AS in_sync
             FROM (SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard, vec_id
                   FROM embeddings)
             GROUP BY shard ORDER BY shard"""))

  /** A HEALED replica of the fixture lake — the anti-entropy fixture:
    * a deep clone diverged OUT OF BAND (rows ending "1" deleted, plus
    * one count-neutral tamper — same id, same vector, document
    * swapped), then [[graft.Lake.repairFrom]] the source. The builder
    * requires the repair to have convicted shards, so the fixture can
    * never silently degrade into a no-op. Built once per
    * (session, sfDir). */
  private def healedCloneLake(s: SparkSession, dir: String): Lake =
    BuiltFixtures.once(s, dir, "replica_heal") {
      val src = shardStatsLake(s, dir)
      val tmp = BuiltFixtures.sessionTmp(s, dir, "healrep")
      Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6)).delete()
      val rep = src.cloneTo(tmp)
      rep.deleteWhere(col("document").endsWith("1"))
      rep.upsert(rep.read().where(col("document") === "doc-2")
        .select(col("vector"), lit("tampered").as("document"), col("id")))
      val (shards, _) = rep.repairFrom(src)
      require(shards > 0L,
        "replica_heal fixture: the divergence mix convicted no shard")
      rep
    }

  /** [[graft.Lake.repairFrom]] round-trip as a registry query — the
    * anti-entropy HEAL op verified end to end: the post-repair
    * [[graft.Lake.diffStats]] audit between the fixture lake and a
    * replica that had real out-of-band divergence (deletions AND a
    * count-neutral tamper the fingerprint alone convicts). The oracle
    * recomputes per-shard counts from raw `embeddings` with both
    * sides EQUAL and `in_sync` constant 1, so hash-equality proves
    * the repair restored every deleted row, reverted the tamper,
    * corrupted nothing — and the audit agrees shard by shard. Scale
    * shape: the audit is the zero-exchange SPJ (GraftSpjSpec); the
    * repair reads and rewrites ONLY convicted directories — k of N
    * diverged shards repair at ~k/N of a re-clone's cost. */
  val qReplicaHeal = Q(
    "q_replica_heal",
    (s, dir) => {
      val src = shardStatsLake(s, dir)
      val rep = healedCloneLake(s, dir)
      src.diffStats(rep)
        .select(col("shard"), col("cnt"), col("other_cnt"),
          col("in_sync").cast("int").as("in_sync"))
        .orderBy("shard")
    },
    Some(s"""SELECT shard, CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(*) AS BIGINT) AS other_cnt,
                    CAST(1 AS INTEGER) AS in_sync
             FROM (SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard
                   FROM embeddings)
             GROUP BY shard ORDER BY shard"""))

  /** The tiny STORED dimension the DPP join probes with — shard →
    * group (shard mod 5), written to parquet once per (session,
    * sfDir) because dynamic partition pruning requires the build side
    * to be a file source whose filter SURVIVES optimization (a
    * LocalRelation's filter constant-folds away before the
    * PartitionPruning rule ever sees it — exactly like real
    * pipelines, where the probe keys come from storage). */
  private def dppDimPath(s: SparkSession, dir: String): String =
    BuiltFixtures.once(s, dir, "dpp_dim") {
      val p = BuiltFixtures.sessionTmp(s, dir, "dpp_dim")
      import s.implicits._
      (0 until 64).map(sh => (sh, sh % 5)).toDF("shard", "grp")
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }

  /** The fixture lake joined THROUGH the `graft` format to the stored
    * dimension under a selective filter — the shape DYNAMIC PARTITION
    * PRUNING serves ([[graft.sources.GraftRuntimeScan]]): the
    * broadcast build side's shard keys cut the fact scan's file slice
    * to the matching directories before a single task launches
    * (GraftFormatSpec pins the executed-plan slice; this registry
    * entry is the END-TO-END gate — hash-equality with an oracle that
    * recomputes routing + the dim function from raw `embeddings`
    * proves the runtime-pruned scan returns exactly the full join's
    * rows). Distinct shape from the other fixture-lake queries — the
    * only one whose scan is cut by a JOIN, not a literal. Scale shape at
    * 100 TB: broadcast dim, runtime IN over the partition column,
    * ~1/5 of the directories ever opened. */
  val qDppJoin = Q(
    "q_dpp_join",
    (s, dir) => {
      val lake = shardStatsLake(s, dir)
      val dim = s.read.parquet(dppDimPath(s, dir)).where(col("grp") === 3)
      s.read.format("graft").load(lake.cfg.location)
        .join(dim, "shard")
        .groupBy("shard", "grp")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("document")).as("docs"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""SELECT shard, CAST(shard % 5 AS INTEGER) AS grp,
                    CAST(count(*) AS BIGINT) AS cnt,
                    CAST(count(DISTINCT 'doc-' || vec_id) AS BIGINT) AS docs,
                    round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
             FROM (SELECT ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard, vec_id, embedding
                   FROM embeddings)
             WHERE shard % 5 = 3 GROUP BY 1, 2 ORDER BY shard"""))

  /** Pairwise cosine similarity between label centroids — the
    * class-separation audit an embedding pipeline reports (are label
    * clusters collapsing?). The quadratic pairing runs over the
    * POST-AGG centroid table (|labels| rows, here 10 → 45 pairs), never
    * the corpus — the aggregate-then-pair shape that stays O(k²) at any
    * data size. Centroids are rounded per position BEFORE pairing, so
    * both engines compare identical bits; arrays are rebuilt in
    * position order via sorted struct collection (collect_list alone
    * has no deterministic order). */
  val qCentroidSim = Q(
    "q_centroid_sim",
    (s, dir) => {
      val cent = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(V.asDouble(col("embedding"))).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(round(avg("v"), 6).as("c"))
      // materialize the |labels|-row centroid table once — without the
      // cut, BOTH sides of the self-join re-scan and re-aggregate the
      // full corpus (plan-verified), which is exactly the double read
      // this shape must avoid at scale
      val vecs = cent.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("vec"))
        .transform(graft.operators.Materialize.cut(_))
      val a = vecs.select(col("label").as("a_label"), col("vec").as("a_vec"))
      val b = vecs.select(col("label").as("b_label"), col("vec").as("b_vec"))
      a.join(b, col("a_label") < col("b_label"))
        .select(col("a_label"), col("b_label"),
          V.round6z(V.cosineSimPre(V.dot(col("a_vec"), col("b_vec")),
            V.l2Norm(col("a_vec")), V.l2Norm(col("b_vec")))).as("sim"))
        .orderBy("a_label", "b_label")
    },
    Some(s"""WITH cent AS (
               SELECT label, pos, round(avg(v), 6) AS c FROM (
                 SELECT label, unnest(embedding::DOUBLE[]) AS v,
                        CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos
                 FROM embeddings)
               GROUP BY label, pos),
             vecs AS (SELECT label, list(c ORDER BY pos) AS vec
                      FROM cent GROUP BY label)
           SELECT a.label AS a_label, b.label AS b_label,
                  ${V.sqlRound6z(V.sqlCosineSimCols("a.vec", "b.vec"))} AS sim
           FROM vecs a JOIN vecs b ON a.label < b.label
           ORDER BY a_label, b_label"""))

  // --------------------------------------------- co-located derived table --

  /** A base lake plus its CO-LOCATED derived feature table
    * ([[graft.Lake.deriveTo]]), built through the full lifecycle the
    * feature exists for: ingest HALF the corpus → derive (full build) →
    * ingest the other half AND delete every id ending in "3" → derive
    * AGAIN (the INCREMENTAL path: change-feed diff, f recomputed over
    * inserted rows only, only affected shard dirs rewritten). Built once
    * per (session, sfDir). */
  private def derivedJoinFixture(s: SparkSession,
      dir: String): (Lake, graft.DerivedTable) =
    BuiltFixtures.once(s, dir, "derived_join") {
      val tmp = BuiltFixtures.sessionTmp(s, dir, "derivbase")
      val base = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 6))
      base.delete()
      val rows = Tables.embeddings(s, dir).select(
        concat(lit("doc-"), col("vec_id")).as("id"),
        col("embedding").as("vector"),
        concat(lit("text "), col("vec_id")).as("document"),
        pmod(col("vec_id"), lit(2)).as("m"))
      def feat(df: DataFrame): DataFrame = df.select(
        col("id"), col("shard"),
        round(V.l2Norm(col("vector")), 6).as("norm"),
        length(col("document")).as("doc_len"))
      val dloc = BuiltFixtures.sessionTmp(s, dir, "derivfeat")
      base.ingest(rows.where(col("m") === 0).drop("m"))
      base.deriveTo(dloc)(feat)
      base.ingest(rows.where(col("m") =!= 0).drop("m"))
      base.deleteWhere(col("id").endsWith("3"))
      (base, base.deriveTo(dloc)(feat))
    }

  /** CO-LOCATED feature join ([[graft.Lake.joinDerived]]) over the
    * lifecycle fixture — the derived-table correctness gate the driver
    * can hash-check: the oracle recomputes id, routing (at the lake's
    * width, straight from raw `embeddings`), both stored features, and
    * the delete filter from scratch, so hash-equality proves (a) the
    * full build landed features for every row, (b) the INCREMENTAL
    * refresh folded in the second ingest and dropped the deleted ids'
    * feature rows, and (c) the join served every surviving pair exactly
    * once. Scale shape: both sides read key-grouped on shard and the
    * join keys (shard, id) contain the partition key, so the plan is
    * the ZERO-EXCHANGE storage-partitioned join (DerivedSpec pins it;
    * Verify and perfbench sessions carry the co-partition conf) — at 100 TB
    * the refresh is O(churn) and the serve never re-hashes corpus or
    * features across the wire. */
  val qDerivedJoin = Q(
    "q_derived_join",
    (s, dir) => {
      val (base, d) = derivedJoinFixture(s, dir)
      base.joinDerived(d)
        .select(col("id"), col("shard"), col("document"),
          col("norm"), col("doc_len"))
        .orderBy("id")
    },
    Some(s"""SELECT 'doc-' || vec_id AS id,
                    ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    'text ' || vec_id AS document,
                    round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
                    CAST(length('text ' || vec_id) AS INT) AS doc_len
             FROM embeddings
             WHERE ('doc-' || vec_id) NOT LIKE '%3'
             ORDER BY id"""))

  /** The reshard-recovery lifecycle for derived tables
    * ([[graft.Lake.reshardDerived]]): half the corpus → derive → the
    * other half + deletes (real churn) → base RESHARD 32→64 shards →
    * re-key. The re-key transform deliberately differs (+1000 on
    * doc_len) so the oracle can prove WHICH rows ran it: surviving
    * batch-1 rows must keep the original doc_len (re-keyed, never
    * recomputed — the O(feature bytes) contract), batch-2 churn rows
    * carry the +1000 variant. Built once per (session, sfDir). */
  private def derivedRekeyFixture(s: SparkSession,
      dir: String): (Lake, graft.DerivedTable) =
    BuiltFixtures.once(s, dir, "derived_rekey") {
      val tmp = BuiltFixtures.sessionTmp(s, dir, "rekeybase")
      val base = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 5))
      base.delete()
      val rows = Tables.embeddings(s, dir).select(
        concat(lit("doc-"), col("vec_id")).as("id"),
        col("embedding").as("vector"),
        concat(lit("text "), col("vec_id")).as("document"),
        pmod(col("vec_id"), lit(2)).as("m"))
      def feat(df: DataFrame): DataFrame = df.select(
        col("id"), col("shard"),
        round(V.l2Norm(col("vector")), 6).as("norm"),
        length(col("document")).as("doc_len"))
      def featAlt(df: DataFrame): DataFrame = df.select(
        col("id"), col("shard"),
        round(V.l2Norm(col("vector")), 6).as("norm"),
        (length(col("document")) + 1000).as("doc_len"))
      val dloc = BuiltFixtures.sessionTmp(s, dir, "rekeyfeat")
      base.ingest(rows.where(col("m") === 0).drop("m"))
      val d = base.deriveTo(dloc)(feat)
      base.ingest(rows.where(col("m") =!= 0).drop("m"))
      base.deleteWhere(col("id").endsWith("7"))
      val wide = base.reshard(6)
      (wide, d.reshardTo(wide)(featAlt))
    }

  /** Post-re-key co-located join — hash-equality against an oracle
    * that recomputes routing at the NEW width straight from raw
    * embeddings proves (a) every surviving feature row landed on its
    * refined shard, (b) original feature values survived the re-key
    * untouched while churn rows got the new transform, (c) deleted
    * ids dropped, and (d) the join still serves zero-exchange
    * (DerivedSpec pins the plan). */
  val qDerivedRekey = Q(
    "q_derived_rekey",
    (s, dir) => {
      val (base, d) = derivedRekeyFixture(s, dir)
      base.joinDerived(d)
        .select(col("id"), col("shard"), col("norm"), col("doc_len"))
        .orderBy("id")
    },
    Some(s"""SELECT 'doc-' || vec_id AS id,
                    ${Lsh(64, 6).sqlShardExpr("embedding")} AS shard,
                    round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
                    CAST(length('text ' || vec_id) +
                         CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1000 END AS INT) AS doc_len
             FROM embeddings
             WHERE ('doc-' || vec_id) NOT LIKE '%7'
             ORDER BY id"""))

  // --------------------------------------------------- hybrid retrieval --

  /** Hybrid search with reciprocal-rank fusion — the query shape a
    * modern vector store actually serves: a BM25 keyword leg over
    * `documents` and a cosine leg over `embeddings`, each reduced to a
    * top-100 list by heap top-k (TakeOrderedAndProject — the corpus
    * never meets a global sort), then fused by
    * `1/(60+rank_kw) + 1/(60+rank_vec)` over the FULL OUTER join of the
    * two lists. RRF is the portable fusion: ranks are integers, so the
    * fused score is a sum of two exact IEEE divisions — no cross-engine
    * float drift. BM25 uses the LINEAR idf (N/df exact-integer ratio,
    * same documented divergence as q_tfidf: float `ln` is not
    * bit-portable); tf saturation k1=1.2, b=0.75. The row_number
    * windows run over the two 100-row lists only. */
  val qHybridRrf = Q(
    "q_hybrid_rrf",
    (s, dir) => {
      val terms = Seq("vector", "hash", "join")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      val stats = toks.agg(
        count(lit(1)).as("n"),
        sum(size(col("tk")).cast("long")).as("sumdl"),
        sum(when(array_contains(col("tk"), terms(0)), 1L).otherwise(0L)).as("df0"),
        sum(when(array_contains(col("tk"), terms(1)), 1L).otherwise(0L)).as("df1"),
        sum(when(array_contains(col("tk"), terms(2)), 1L).otherwise(0L)).as("df2"))
      def termScore(t: String, dfCol: String) =
        graft.functions.TextFunctions.bm25TermScore(
          col("tk"), t, col("n"), col("sumdl"), col(dfCol))
      val kwTop = toks.crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(termScore(terms(0), "df0") + termScore(terms(1), "df1") +
            termScore(terms(2), "df2"), 6).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(100)
      val kwRanked = kwTop.select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("s").desc, col("doc_id"))).as("rk"))
      val vecTop = Tables.embeddings(s, dir)
        .select(col("vec_id"), cosQ.as("d"))
        .orderBy(col("d"), col("vec_id")).limit(100)
      val vecRanked = vecTop.select(col("vec_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("d"), col("vec_id"))).as("rv"))
      kwRanked.join(vecRanked, kwRanked("doc_id") === vecRanked("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("id"),
          round(coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(20)
    },
    Some {
      def sqlTerm(t: String, df: String) =
        s"""(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * (CAST(len(tk) AS DOUBLE)) /
           | (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))) *
           | (CAST(n AS DOUBLE) / CAST($df AS DOUBLE)))""".stripMargin
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(len(tk)) AS BIGINT) AS sumdl,
                             CAST(sum(CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                             CAST(sum(CASE WHEN list_contains(tk, 'hash') THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                             CAST(sum(CASE WHEN list_contains(tk, 'join') THEN 1 ELSE 0 END) AS BIGINT) AS df2
                      FROM toks),
            scored AS (SELECT doc_id,
                              CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf_vector,
                              CAST(len(list_filter(tk, x -> x = 'hash')) AS DOUBLE) AS tf_hash,
                              CAST(len(list_filter(tk, x -> x = 'join')) AS DOUBLE) AS tf_join,
                              tk, n, sumdl, df0, df1, df2
                       FROM toks, stats),
            kw AS (SELECT doc_id,
                          round(${sqlTerm("vector", "df0")} + ${sqlTerm("hash", "df1")} +
                                ${sqlTerm("join", "df2")}, 6) AS s
                   FROM scored ORDER BY s DESC, doc_id LIMIT 100),
            kwr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER) AS rk FROM kw),
            vec AS (SELECT vec_id, ${V.sqlRound6z(V.sqlCosineDistLit("embedding", Qv))} AS d
                    FROM embeddings ORDER BY d, vec_id LIMIT 100),
            vecr AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY d, vec_id) AS INTEGER) AS rv FROM vec)
          SELECT coalesce(k.doc_id, v.vec_id) AS id,
                 round(coalesce(1.0 / (60 + rk), 0.0) + coalesce(1.0 / (60 + rv), 0.0), 6) AS rrf
          FROM kwr k FULL OUTER JOIN vecr v ON k.doc_id = v.vec_id
          ORDER BY rrf DESC, id LIMIT 20"""
    })

  /** Late-interaction (ColBERT-style) MaxSim retrieval: a "document" is
    * a BAG of token vectors (here: four consecutive embedding rows), a
    * query is a bag of query vectors, and the score is
    * Σ_q max_t cos_sim(t, q) — max-reduce inside the document, sum
    * across query tokens. The whole thing is one scan + one hash
    * aggregate (two maxes per group), so it scales exactly like any
    * aggregation: no joins, no windows, map-side partials. Per-row sims
    * are rounded BEFORE the max (identical bits cross-engine); the sum
    * of two rounded maxes is exact. */
  val qMaxSim = Q(
    "q_maxsim",
    (s, dir) => {
      val s1 = V.round6z(V.cosineSim(col("embedding"), V.vecLit(Qv)))
      val s2 = V.round6z(V.cosineSim(col("embedding"), V.vecLit(Fixtures.queryVec2)))
      Tables.embeddings(s, dir)
        .select((col("vec_id") / 4).cast("long").as("did"),
          s1.as("s1"), s2.as("s2"))
        .groupBy("did")
        .agg((max(col("s1")) + max(col("s2"))).as("maxsim"))
        .orderBy(col("maxsim").desc, col("did"))
        .limit(10)
    },
    Some(s"""SELECT CAST(vec_id // 4 AS BIGINT) AS did,
                    max(${V.sqlRound6z(V.sqlCosineSimLit("embedding", Qv))}) +
                    max(${V.sqlRound6z(V.sqlCosineSimLit("embedding", Fixtures.queryVec2))}) AS maxsim
             FROM embeddings GROUP BY 1
             ORDER BY maxsim DESC, did LIMIT 10"""))

  def all: Seq[Q] = Seq(
    qKnnCosine, qKnnL2, qKnnDot, qKnnHamming, qKnnRerank,
    qLshRoute, qKnnPruned, qKnnMultiProbe,
    qKnnBatch, qKnnBatchRouted, qKnnBatchRoutedMp, qNearDup, qNearDupLsh,
    qFilterKnn, qLabelCentroids, qCentroidSim, qJoinDocs,
    qTextStats, qEventsWindow, qEventsRollup,
    qShardStats, qSqlScan, qSqlInsert, qSqlDml, qCloneStats, qSyncStats,
    qExpireStats, qDppJoin, qReplicaDiff, qReplicaHeal, qReshardStats,
    qKnnResharded, qDerivedJoin, qDerivedRekey, qHybridRrf, qMaxSim)
}
