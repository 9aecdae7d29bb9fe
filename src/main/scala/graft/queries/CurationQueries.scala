package graft.queries

import org.apache.spark.sql.functions._

import graft.{Lake, LakeConfig, Tables}
import graft.functions.{Lsh, TextFunctions => T, VectorFunctions => V}

/** Training-data CURATION operators — the steps between "cleaned corpus"
  * and "training shards" that a 100 TB pipeline runs after the dedup
  * family: deterministic train/test splitting, eval-set decontamination,
  * sequence packing, vocabulary extraction, and compaction-preserving
  * round-trips. Every query is oracle-paired and fully deterministic.
  */
object CurationQueries {

  /** Deterministic hash-based train/test split — THE way to split at
    * scale (no sampling state, no shuffling a 100 TB corpus: the split
    * is a pure map-side expression on a stable key, reproducible across
    * runs and engines). 90/10 by md5-h60(doc_id) mod 100. */
  val qSplitTrainTest = Q(
    "q_split_train_test",
    (s, dir) => Tables.documents(s, dir)
      .select(col("lang"),
        graft.operators.Curation.splitCol(col("doc_id"), 90).as("split"),
        size(T.tokens(col("text"))).as("t"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
      .orderBy("lang", "split"),
    Some(s"""SELECT lang,
                    CASE WHEN ${T.sqlH60("doc_id::VARCHAR")} % 100 < 90
                         THEN 'train' ELSE 'test' END AS split,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1, 2 ORDER BY lang, split"""))

  /** Deterministic stratified sample ([[graft.operators.Curation
    * .stratifiedSample]]): 3 documents per language in portable-hash
    * order — the reproducible "random" subset every training mix draws
    * per stratum. No global sort: one shuffle on the stratum key, a
    * bounded rank per group. Oracle recomputes the same md5-h60 order. */
  val qSampleStratified = Q(
    "q_sample_stratified",
    (s, dir) => graft.operators.Curation
      .stratifiedSample(Tables.documents(s, dir), "lang", "doc_id", 3)
      .select(col("lang"), col("doc_id"), col("rk"), col("n_chars"))
      .orderBy("lang", "rk"),
    Some(s"""SELECT lang, doc_id, CAST(rk AS INTEGER) AS rk, n_chars
             FROM (SELECT lang, doc_id, n_chars,
                          row_number() OVER (PARTITION BY lang
                            ORDER BY ${T.sqlH60("doc_id::VARCHAR")}, doc_id) AS rk
                   FROM documents)
             WHERE rk <= 3 ORDER BY lang, rk"""))

  /** Training-mix planner: per source-domain token counts weighted by a
    * per-domain upsampling factor, normalized to mix fractions — the
    * table a data-mixing run is driven from. One scan + one 20-row
    * aggregate; the final normalizing window runs over the POST-AGG
    * domain table (rows = |domains|, not |docs|), so the single-
    * partition window is trivially safe at any corpus size. Integer
    * weighted-token arithmetic is exact cross-engine; only the final
    * fraction is floating (exact ints < 2^53 → identical doubles). */
  val qDomainMix = Q(
    "q_domain_mix",
    (s, dir) => {
      val perSource = Tables.documents(s, dir)
        .select(col("source"), size(T.tokens(col("text"))).as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("t").cast("long")).as("n_tokens"))
        .withColumn("weight",
          (expr("CAST(substring(source, 4) AS INT)") % 3 + 1).cast("long"))
        .withColumn("w_tokens", col("weight") * col("n_tokens"))
      perSource
        .withColumn("mix_frac",
          round(col("w_tokens").cast("double") /
            sum("w_tokens").over(org.apache.spark.sql.expressions.Window.partitionBy()), 6))
        .select("source", "n_docs", "n_tokens", "weight", "w_tokens", "mix_frac")
        .orderBy("source")
    },
    Some("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                       FROM documents GROUP BY source),
            w AS (SELECT source, n_docs, n_tokens,
                         CAST(substring(source, 4)::INT % 3 + 1 AS BIGINT) AS weight,
                         CAST((substring(source, 4)::INT % 3 + 1) * n_tokens AS BIGINT) AS w_tokens
                  FROM s)
            SELECT source, n_docs, n_tokens, weight, w_tokens,
                   round(CAST(w_tokens AS DOUBLE) / CAST(sum(w_tokens) OVER () AS DOUBLE), 6) AS mix_frac
            FROM w ORDER BY source"""))

  /** BPE merge-candidate table: counts of ADJACENT token pairs across
    * the corpus — the inner loop of byte-pair-encoding vocabulary
    * training. Pairs are formed array-side (`zip_with` over two slices,
    * no self-join) then hash-aggregated; one scan, map-side combinable,
    * heap top-k. Documents with <2 tokens contribute nothing on both
    * engines (empty slice ≡ empty range). */
  val qBpePairs = Q(
    "q_bpe_pairs",
    (s, dir) => {
      val t = T.tokens(col("text"))
      Tables.documents(s, dir)
        .select(explode(zip_with(
          // greatest(…, 0): slice throws on negative length, and a
          // pathological empty token array would produce size-1 = -1
          slice(t, lit(1), greatest(size(t) - 1, lit(0))),
          slice(t, lit(2), greatest(size(t) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },
    Some("""WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
            i AS (SELECT t, unnest(range(1, len(t))) AS i FROM tok)
            SELECT t[i] || ' ' || t[i + 1] AS pair, CAST(count(*) AS BIGINT) AS cnt
            FROM i GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""))

  /** Embedding-norm outlier audit: per label, how many vectors fall
    * inside the global [p1, p99] norm band. The percentile bounds are a
    * ONE-ROW aggregate broadcast against the scan (no second shuffle of
    * the data); norms are computed with the same left-to-right kernel
    * contract as the oracle's list_distance, so the band comparison is
    * bit-identical cross-engine. The pre-training sanity gate that
    * catches collapsed or exploded embedding batches. */
  val qNormOutliers = Q(
    "q_norm_outliers",
    (s, dir) => {
      val norms = Tables.embeddings(s, dir)
        .select(col("label"), V.l2Norm(col("embedding")).as("nrm"))
      val bounds = norms.agg(
        expr("percentile(nrm, 0.01)").as("lo"),
        expr("percentile(nrm, 0.99)").as("hi"))
      norms.crossJoin(broadcast(bounds))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("nrm").between(col("lo"), col("hi")), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("nrm") < col("lo") || col("nrm") > col("hi"), 1L).otherwise(0L)).as("n_out"))
        .orderBy("label")
    },
    Some("""WITH n AS (SELECT label,
                              list_distance(embedding::DOUBLE[],
                                list_transform(embedding::DOUBLE[], x -> 0.0)) AS nrm
                       FROM embeddings),
            b AS (SELECT quantile_cont(nrm, 0.01) AS lo, quantile_cont(nrm, 0.99) AS hi FROM n)
            SELECT label, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN nrm BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN nrm < lo OR nrm > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_out
            FROM n CROSS JOIN b GROUP BY label ORDER BY label"""))

  /** Fixed-window document chunking audit: split each document into
    * 32-token chunks with 8-token overlap (stride 24) — the windowing
    * every RAG/embedding/pre-training pipeline applies before encoding.
    * Chunk starts are an arithmetic sequence computed array-side (no
    * explode needed for the audit aggregate); all counts integral.
    * Spark `sequence(0, n-1, 24)` ≡ DuckDB `range(0, n, 24)` — both
    * enumerate starts strictly below n. */
  val qChunkDocs = Q(
    "q_chunk_docs",
    (s, dir) => {
      val n = size(T.tokens(col("text")))
      val starts = sequence(lit(0), n - 1, lit(24))
      Tables.documents(s, dir)
        .select(col("doc_id"), n.as("n_tokens"),
          size(starts).as("n_chunks"),
          aggregate(starts, lit(0L),
            (a, st) => a + least(lit(32), n - st)).as("chunk_tokens"))
        .where(col("doc_id") < 30)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
                   CAST(len(range(0, len(t), 24)) AS INTEGER) AS n_chunks,
                   CAST(list_sum(list_transform(range(0, len(t), 24),
                        st -> least(32, len(t) - st))) AS BIGINT) AS chunk_tokens
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            WHERE doc_id < 30 ORDER BY doc_id"""))

  /** Eval-set decontamination: flag training documents sharing any word
    * 5-gram with the held-out set (doc_id < 20). The eval shingle set is
    * tiny and BROADCAST; the corpus side is one scan + explode — the
    * shape that works when the corpus is 100 TB and the eval set is a
    * few thousand documents. Hashes, not strings, cross the join. */
  val qDecontaminate = Q(
    "q_decontaminate",
    (s, dir) => {
      // the reusable operator (graft.operators.Curation) — this oracle
      // row proves it end-to-end
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      graft.operators.Curation
        .contaminationHits(docs.where(col("doc_id") >= 20),
          docs.where(col("doc_id") < 20), "text", shingleN = 5)
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_contaminated"),
          count(lit(1)).as("n_hits"))
        .orderBy("lang")
    },
    Some {
      val shE = s"list_transform(list_distinct(${T.sqlShingles("text", 5)}), s -> ${T.sqlH31("s")})"
      s"""WITH sh AS (SELECT doc_id, lang, $shE AS sh FROM documents),
          ev AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id < 20),
          tr AS (SELECT doc_id, lang, unnest(sh) AS h FROM sh WHERE doc_id >= 20)
          SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminated,
                 CAST(count(*) AS BIGINT) AS n_hits
          FROM tr JOIN ev USING (h) GROUP BY lang ORDER BY lang"""
    })

  /** Sequence packing: assign docs (in stable doc_id order per lang) to
    * fixed token-budget packs via a running token sum — pack_id =
    * (cumsum - own) div budget, the deterministic streaming-friendly
    * form of greedy packing. One window per lang partition; integer
    * arithmetic only. */
  val qPackDocs = Q(
    "q_pack_docs",
    (s, dir) => {
      val tokens = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(T.tokens(col("text"))).cast("long").as("t"))
      graft.operators.Curation.packIds(tokens, "lang", "doc_id", "t", 2048L)
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("pack_tokens"))
        .orderBy("lang", "pack_id")
    },
    Some("""WITH t AS (SELECT doc_id, lang,
                              len(string_split(text, ' '))::BIGINT AS t
                       FROM documents),
            c AS (SELECT lang, t,
                         sum(t) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
                  FROM t)
            SELECT lang, CAST((cum - t) // 2048 AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(t) AS BIGINT) AS pack_tokens
            FROM c GROUP BY 1, 2 ORDER BY lang, pack_id"""))

  /** Vocabulary extraction: top-20 word tokens by corpus term frequency
    * with document frequency — the first step of any tokenizer/BPE
    * training run. Explode + hash-aggregate; ties broken by token. */
  val qVocabTop = Q(
    "q_vocab_top",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(20),
    Some("""SELECT token, CAST(count(*) AS BIGINT) AS tf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
                  FROM documents)
            GROUP BY token ORDER BY tf DESC, token LIMIT 20"""))

  /** Lake round-trip THROUGH compaction: ingest a bounded slice in two
    * fragmenting appends, compact to target-size files, read back and
    * profile per shard. The oracle computes the same stats straight from
    * the source table — equality proves compact() preserved every row,
    * every vector byte, and the shard routing. */
  val qCompactStats = Q(
    "q_compact_stats",
    (s, dir) => {
      // built once per (session, sfDir) — BuiltFixtures scaladoc; the
      // measured surface is the post-compaction read-back profile
      val lake = BuiltFixtures.once(s, dir, "compact_stats") {
        // session-scoped (q_export_shards posture): a read-back round-trip
        // must not share its tree with a concurrent session on the same sfDir
        val tmp = BuiltFixtures.sessionTmp(s, dir, "compact")
        val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
        l.delete()
        val src = Tables.embeddings(s, dir).where(col("vec_id") < 500)
          .select(col("embedding").as("vector"),
            concat(lit("doc-"), col("vec_id")).as("document"))
        // two identical appends -> fragmented shards; compact() merges
        // them (the oracle expects 2 × the source rows per shard)
        (0 until 2).foreach(_ => l.ingest(src))
        l.compact()
        l
      }
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""SELECT ${Lsh(64, 4).sqlShardExpr("embedding")} AS shard,
                    CAST(2 * count(*) AS BIGINT) AS cnt,
                    round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
             FROM embeddings WHERE vec_id < 500 GROUP BY 1 ORDER BY shard"""))

  /** Lake round-trip through INCREMENTAL compaction: fully compact a
    * two-append lake, then re-fragment ONLY the shards a hot slice
    * (vec_id < 100) routes to with two more appends, and run
    * [[graft.Lake.compactIncremental]] — which must rewrite exactly the
    * re-fragmented shards (clean directories stay bit-identical; the
    * spec pins that; this oracle pins the ROWS). The read-back profile
    * equals the oracle's reconstruction of the 2×(<500) ∪ 2×(<100)
    * multiset routed with literal hyperplanes — equality proves the
    * targeted rewrite preserved every row, byte, and route. */
  val qCompactInc = Q(
    "q_compact_inc",
    (s, dir) => {
      // built once per (session, sfDir) — BuiltFixtures scaladoc; the
      // measured surface is the post-rewrite read-back profile
      val lake = BuiltFixtures.once(s, dir, "compact_inc") {
        val tmp = BuiltFixtures.sessionTmp(s, dir, "compact_inc")
        val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
        l.delete()
        val src = Tables.embeddings(s, dir).where(col("vec_id") < 500)
          .select(col("embedding").as("vector"),
            concat(lit("doc-"), col("vec_id")).as("document"))
        (0 until 2).foreach(_ => l.ingest(src))
        l.compact()
        val hot = Tables.embeddings(s, dir).where(col("vec_id") < 100)
          .select(col("embedding").as("vector"),
            concat(lit("hot-"), col("vec_id")).as("document"))
        (0 until 2).foreach(_ => l.ingest(hot))
        l.compactIncremental(maxFilesPerShard = 1)
        l
      }
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          round(avg(V.l2Norm(col("vector"))), 6).as("avg_norm"))
        .orderBy("shard")
    },
    Some(s"""WITH e AS (
               SELECT ${Lsh(64, 4).sqlShardExpr("embedding")} AS shard,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
                      vec_id
               FROM embeddings WHERE vec_id < 500)
             SELECT shard,
                    CAST(2 * count(*) + 2 * count(CASE WHEN vec_id < 100 THEN 1 END) AS BIGINT) AS cnt,
                    round((2 * sum(nrm) + 2 * coalesce(sum(CASE WHEN vec_id < 100 THEN nrm END), 0))
                          / (2 * count(*) + 2 * count(CASE WHEN vec_id < 100 THEN 1 END)), 6) AS avg_norm
             FROM e GROUP BY shard ORDER BY shard"""))

  /** Lake round-trip through the ROW-LEVEL maintenance ops: ingest with
    * caller-supplied ids, DELETE WHERE every 7th id, then one upsert
    * that negate-replaces the surviving ids under 50 (a negated vector
    * flips its sign-bit route, so replacements MOVE shards — the hard
    * path) and inserts 20 brand-new ids. The oracle constructs the same
    * final logical set straight from the source table and routes it
    * with the literal hyperplanes — equality proves deleteWhere/upsert
    * preserved exactly the intended rows, bytes, and routing. The v1
    * checksum is a per-shard DECIMAL sum of rounded first elements:
    * order-independent and sign-sensitive (a stale un-negated replacement
    * would flip it). */
  val qMaintainStats = Q(
    "q_maintain_stats",
    (s, dir) => {
      // built once per (session, sfDir) — BuiltFixtures scaladoc; the
      // measured surface is the post-maintenance read-back profile
      val lake = BuiltFixtures.once(s, dir, "maintain_stats") {
        // session-scoped like q_export_shards: this query READS BACK what
        // it wrote, so two concurrent sessions on the same sfDir must not
        // interleave delete/rewrite cycles in one tree
        val tmp = BuiltFixtures.sessionTmp(s, dir, "maintain")
        val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
        l.delete()
        val emb = Tables.embeddings(s, dir)
        l.ingest(emb.select(col("vec_id").cast("string").as("id"),
          col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document")))
        l.deleteWhere(col("id").cast("long") % 7 === 0)
        val replace = emb.where(col("vec_id") < 50 && col("vec_id") % 7 =!= 0)
          .select(col("vec_id").cast("string").as("id"),
            transform(col("embedding"), x => -x).as("vector"),
            concat(lit("doc-"), col("vec_id"), lit("-v2")).as("document"))
        val fresh = emb.where(col("vec_id") < 20)
          .select((col("vec_id") + 1000000L).cast("string").as("id"),
            col("embedding").as("vector"),
            concat(lit("new-"), col("vec_id")).as("document"))
        l.upsert(replace.unionByName(fresh))
        // the one-call maintenance policy over the churned tree:
        // compacts the delete/upsert file bloat, sweeps dead
        // generations — the oracle equality below proves it preserved
        // every surviving row, byte-for-byte
        l.maintain(retainMs = 0L)
        l
      }
      lake.read()
        .groupBy("shard")
        .agg(count(lit(1)).as("cnt"),
          sum(round(element_at(col("vector"), 1).cast("double"), 6)
            .cast("decimal(18,6)")).cast("double").as("sum_v1"))
        .orderBy("shard")
    },
    Some {
      val sh = graft.functions.Lsh(64, 4).sqlShardExpr("v")
      s"""WITH final AS (
            SELECT embedding AS v FROM embeddings
            WHERE vec_id % 7 != 0 AND vec_id >= 50
            UNION ALL
            SELECT list_transform(embedding, x -> -x) FROM embeddings
            WHERE vec_id % 7 != 0 AND vec_id < 50
            UNION ALL
            SELECT embedding FROM embeddings WHERE vec_id < 20)
          SELECT $sh AS shard, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(CAST(round(v[1]::DOUBLE, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_v1
          FROM final GROUP BY 1 ORDER BY shard"""
    })

  /** Point-read through the per-shard id Bloom SKIP INDEX
    * ([[graft.Lake.buildSkipIndex]]/[[graft.Lake.lookup]]): ingest with
    * caller ids, build the index, then fetch a fixed id set — with a
    * fresh index the scan touches only the shards whose sketches match
    * (SkipIndexSpec pins the pruning; this oracle pins the ROWS: the
    * pruned read returns exactly the source rows for those ids, bytes,
    * routes, and all). The file-skipping analog of a log-structured
    * format's per-file stats — at 100 TB a point-read costs one shard,
    * not the lake. */
  val qSkipLookup = Q(
    "q_skip_lookup",
    (s, dir) => {
      // built once per (session, sfDir) — BuiltFixtures scaladoc; the
      // measured surface is the sketch-pruned point-read itself
      val lake = BuiltFixtures.once(s, dir, "skip_lookup") {
        val tmp = BuiltFixtures.sessionTmp(s, dir, "skiplk")
        val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
        l.delete()
        l.ingest(Tables.embeddings(s, dir).where(col("vec_id") < 500)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("vector"),
            concat(lit("doc-"), col("vec_id")).as("document")))
        l.buildSkipIndex(fpp = 0.001)
        l
      }
      lake.lookup(Seq("7", "42", "123", "321", "499"))
        .select(col("id"), col("shard"),
          round(V.l2Norm(col("vector")), 6).as("nrm"), col("document"))
        .orderBy("id")
    },
    Some(s"""SELECT CAST(vec_id AS VARCHAR) AS id,
                    ${Lsh(64, 4).sqlShardExpr("embedding")} AS shard,
                    round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm,
                    'doc-' || vec_id AS document
             FROM embeddings WHERE vec_id IN (7, 42, 123, 321, 499)
             ORDER BY id"""))

  /** Shared fixture for the change-feed and time-travel round-trips:
    * ingest ids < 300 of `embeddings` under caller ids, [[graft.Lake
    * .seal]] a sync point, then run the full mutation mix — DELETE
    * WHERE every `deleteMod`-th id, an upsert that negate-replaces ids
    * < `replaceBound` (shard-moving) and inserts 20 fresh `+1000000`
    * ids, and a late append of ids 300..350. One definition of the
    * corpus-construction conventions (id scheme, ingest projection,
    * tmp-dir hygiene) so the two oracles can never silently diverge
    * from different setups. Returns the lake and the sealed version. */
  private def mutatedLake(s: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String, deleteMod: Int, replaceBound: Int,
      compactAfter: Boolean = false): (Lake, Long) =
    // built once per (session, sfDir, FULL parameterization) —
    // BuiltFixtures scaladoc; the params are part of the key so a
    // future call site reusing a prefix with different mutation
    // parameters can never be served the wrong history. The measured
    // surfaces are the netted delta / snapshot read, not the
    // (deterministic) mutation history they replay against
    BuiltFixtures.once(s, dir,
        s"mutated_${prefix}_${deleteMod}_${replaceBound}_$compactAfter") {
      // the tmp path derives from the FULL fixture key, not just the
      // prefix: two cache entries sharing a prefix with different
      // mutation params must never share an on-disk tree (each build
      // starts with lake.delete(), which would silently invalidate the
      // other entry's still-cached Lake)
      val tmp = BuiltFixtures.sessionTmp(s, dir,
        s"${prefix}_${deleteMod}_${replaceBound}_$compactAfter")
      val lake = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
      lake.delete()
      val emb = Tables.embeddings(s, dir)
      lake.ingest(emb.where(col("vec_id") < 300)
        .select(col("vec_id").cast("string").as("id"),
          col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document")))
      val sync = lake.seal()
      lake.deleteWhere(col("id").cast("long") % deleteMod === 0)
      val replace = emb.where(
          col("vec_id") < replaceBound && col("vec_id") % deleteMod =!= 0)
        .select(col("vec_id").cast("string").as("id"),
          transform(col("embedding"), x => -x).as("vector"),
          concat(lit("doc-"), col("vec_id"), lit("-v2")).as("document"))
      val fresh = emb.where(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).cast("string").as("id"),
          col("embedding").as("vector"),
          concat(lit("new-"), col("vec_id")).as("document"))
      lake.upsert(replace.unionByName(fresh))
      lake.ingest(emb.where(col("vec_id") >= 300 && col("vec_id") < 350)
        .select(col("vec_id").cast("string").as("id"),
          col("embedding").as("vector"),
          concat(lit("doc-"), col("vec_id")).as("document")))
      if (compactAfter) lake.compact()
      (lake, sync)
    }

  /** CHANGE FEED round-trip ([[graft.Lake.seal]]/[[graft.Lake
    * .changesSince]]): the [[mutatedLake]] mix (delete every 5th id,
    * negate-replace ids < 40, fresh inserts, late append), then read
    * the netted delta. The oracle knows nothing
    * about files or generations: it reconstructs the logical
    * inserted/deleted row sets straight from the source table —
    * equality proves the file-set diff reports exactly the true
    * row-level changes (rewritten-but-identical rows net out; the
    * replaced id surfaces as its delete+insert pair with the negated
    * vector on the insert side). The incremental-consumer contract:
    * a downstream sync reads only what changed, never the lake. */
  val qChangeFeed = Q(
    "q_change_feed",
    (s, dir) => {
      val (lake, sync) =
        mutatedLake(s, dir, "changes", deleteMod = 5, replaceBound = 40)
      lake.changesSince(sync)
        .select(col("change"), col("id"),
          V.round6z(element_at(col("vector"), 1).cast("double")).as("v1"),
          col("document"))
        .orderBy("change", "id")
    },
    Some(s"""WITH src AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
             del AS (
               SELECT 'delete' AS change, CAST(vec_id AS VARCHAR) AS id,
                      ${V.sqlRound6z("embedding[1]::DOUBLE")} AS v1,
                      'doc-' || vec_id AS document
               FROM src WHERE vec_id % 5 = 0
               UNION ALL
               SELECT 'delete', CAST(vec_id AS VARCHAR),
                      ${V.sqlRound6z("embedding[1]::DOUBLE")},
                      'doc-' || vec_id
               FROM src WHERE vec_id < 40 AND vec_id % 5 != 0),
             ins AS (
               SELECT 'insert' AS change, CAST(vec_id AS VARCHAR) AS id,
                      ${V.sqlRound6z("-(embedding[1]::DOUBLE)")} AS v1,
                      'doc-' || vec_id || '-v2' AS document
               FROM src WHERE vec_id < 40 AND vec_id % 5 != 0
               UNION ALL
               SELECT 'insert', CAST(vec_id + 1000000 AS VARCHAR),
                      ${V.sqlRound6z("embedding[1]::DOUBLE")},
                      'new-' || vec_id
               FROM embeddings WHERE vec_id < 20
               UNION ALL
               SELECT 'insert', CAST(vec_id AS VARCHAR),
                      ${V.sqlRound6z("embedding[1]::DOUBLE")},
                      'doc-' || vec_id
               FROM embeddings WHERE vec_id >= 300 AND vec_id < 350)
             SELECT * FROM (SELECT * FROM del UNION ALL SELECT * FROM ins)
             ORDER BY change, id"""))

  /** TIME TRAVEL round-trip ([[graft.Lake.seal]]/[[graft.Lake.readAt]]):
    * the [[mutatedLake]] mix (delete every 3rd id, shard-moving
    * negate-replace of ids < 50, fresh inserts, late append) PLUS a
    * full compact() — then read the lake AT the sealed version. The
    * oracle is
    * simply the initial logical row set from the source table: equality
    * proves the snapshot still serves exactly the pre-mutation rows,
    * bytes, and routes after every class of rewrite, including a
    * compaction that rebuilt the whole live tree. That is the layout's
    * central property made testable: data paths are never renamed or
    * deleted by maintenance (commits are sidecar writes; only vacuum
    * retires generations), so any retained version replays for free —
    * the audit/repro story (which exact corpus trained run N?) at
    * 100 TB costs one sidecar read, not a copy. */
  val qTimeTravel = Q(
    "q_time_travel",
    (s, dir) => {
      val (lake, snap) = mutatedLake(s, dir, "travel",
        deleteMod = 3, replaceBound = 50, compactAfter = true)
      lake.readAt(snap)
        .select(col("id"), col("shard"),
          V.round6z(element_at(col("vector"), 1).cast("double")).as("v1"),
          col("document"))
        .orderBy("id")
    },
    Some(s"""SELECT CAST(vec_id AS VARCHAR) AS id,
                    ${Lsh(64, 4).sqlShardExpr("embedding")} AS shard,
                    ${V.sqlRound6z("embedding[1]::DOUBLE")} AS v1,
                    'doc-' || vec_id AS document
             FROM embeddings WHERE vec_id < 300 ORDER BY id"""))

  /** Shared fixture for the zone-map round-trips: three time segments
    * of `embeddings` ingested with EXPLICIT event times (vec_id days —
    * the backfill-keeps-source-times story), the zone map built after
    * the FIRST segment only so the later appends must commit their own
    * files' zone stats. One definition so the two oracles can
    * never diverge from different setups. */
  private def timedLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Lake =
    BuiltFixtures.once(s, dir, "timed") {
      val tmp = BuiltFixtures.sessionTmp(s, dir, "timed")
      val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
      l.delete()
      val emb = Tables.embeddings(s, dir)
      def seg(lo: Int, hi: Int) =
        emb.where(col("vec_id") >= lo && col("vec_id") < hi)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("vector"),
            concat(lit("doc-"), col("vec_id")).as("document"),
            timestamp_seconds(col("vec_id") * 86400L).as("timestamp"))
      l.ingest(seg(0, 150))
      l.buildZoneMap() // later segments commit their own files' stats
      l.ingest(seg(150, 250))
      l.ingest(seg(250, 350))
      l
    }

  /** TIMESTAMP ZONE MAP round-trip ([[graft.Lake.buildZoneMap]]/
    * [[graft.Lake.readTimeRange]]) over [[timedLake]]: read back the
    * middle segment's window. LSH sharding scatters rows by vector, so
    * directory pruning can never serve a time window — the per-file
    * map is what turns "rows ingested in [t1, t2]" from a full scan
    * into opening only the window's files at 100 TB. The oracle knows
    * nothing about files: it filters the source rows by the same
    * id-derived window — equality proves the pruned read returns
    * exactly the window's rows. */
  val qTimeRange = Q(
    "q_time_range",
    (s, dir) => {
      val lake = timedLake(s, dir)
      lake.readTimeRange(
          java.time.Instant.ofEpochSecond(150L * 86400),
          java.time.Instant.ofEpochSecond(249L * 86400))
        .select(col("id"), col("shard"),
          V.round6z(element_at(col("vector"), 1).cast("double")).as("v1"))
        .orderBy("id")
    },
    Some(s"""SELECT CAST(vec_id AS VARCHAR) AS id,
                    ${Lsh(64, 4).sqlShardExpr("embedding")} AS shard,
                    ${V.sqlRound6z("embedding[1]::DOUBLE")} AS v1
             FROM embeddings WHERE vec_id BETWEEN 150 AND 249
             ORDER BY id"""))

  /** FRESHNESS-SCOPED kNN round-trip ([[graft.Lake.topKInRange]]):
    * the k nearest rows whose ingest timestamp lies in the middle
    * segment's window — "retrieve only from recent data", with BOTH
    * file-level cuts live (LSH routing to the query's shard × zone-map
    * window pruning) before any distance work. The oracle knows
    * nothing about files or shards-as-directories: it recomputes the
    * query's shard and the window per row from the source table —
    * equality proves the doubly-pruned scan serves exactly the
    * filtered exact answer (the filtered-ANN recall contract, scoped
    * by time). */
  val qKnnFresh = Q(
    "q_knn_fresh",
    (s, dir) => {
      val lake = timedLake(s, dir)
      val qv = Tables.embeddings(s, dir).where(col("vec_id") === 0)
        .select("embedding").head()
        .getSeq[Float](0).map(_.toDouble).toSeq
      lake.topKInRange(qv, 10,
          java.time.Instant.ofEpochSecond(150L * 86400),
          java.time.Instant.ofEpochSecond(249L * 86400))
        .select(col("id"), col("dist"))
        .orderBy(col("dist"), col("id"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv,
                               ${Lsh(64, 4).sqlShardExpr("embedding")} AS qshard
                        FROM embeddings WHERE vec_id = 0),
                  w AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding,
                               ${Lsh(64, 4).sqlShardExpr("embedding")} AS shard
                        FROM embeddings WHERE vec_id BETWEEN 150 AND 249)
             SELECT w.id,
                    ${V.sqlRound6z(V.sqlCosineDistCols("w.embedding", "q.qv"))} AS dist
             FROM w JOIN q ON w.shard = q.qshard
             ORDER BY dist, id LIMIT 10"""))

  /** Int8 scalar quantization audit — the 4× embedding-storage
    * compression a 100 TB lake actually applies: per-vector scale
    * 127/max|v|, q = round(v·scale), plus the reconstruction-error
    * profile per label that tells you whether the compression is safe.
    * Integer sums are exact cross-engine; the error reuses the fused
    * L2 kernel vs DuckDB's list_distance (established parity pair).
    * (Per-element lambdas here are interpreted — at real scale this
    * audit becomes one more fused kernel; flagged, not hidden.) */
  val qQuantizeInt8 = Q(
    "q_quantize_int8",
    (s, dir) => {
      // one fused codegen pass per row (QuantizeAuditExpr): scale =
      // 127/max|v| with the zero-vector guard inside the kernel, q =
      // round(v·scale), emits (Σ|q|, ‖v − q/scale‖₂) with no
      // intermediate arrays — the HOF twin (V.quantAuditHof) is
      // equivalence-tested in VectorFunctionsSpec
      Tables.embeddings(s, dir)
        .select(col("label"), V.quantAudit(col("embedding")).as("qa"))
        .select(col("label"), col("qa.abs_q").as("abs_q"),
          round(col("qa.err"), 6).as("err"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum("abs_q").as("sum_abs_q"),
          round(sum(col("err").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6).as("avg_err"),
          max("err").as("max_err"))
        .orderBy("label")
    },
    Some("""WITH b AS (
              SELECT label, embedding::DOUBLE[] AS v,
                     CASE WHEN list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) = 0
                          THEN 1.0
                          ELSE 127.0 / list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                     END AS scale
              FROM embeddings),
            t AS (
              SELECT label, v, scale,
                     list_transform(v, x -> round(x * scale)::BIGINT) AS q
              FROM b),
            e AS (
              SELECT label,
                     CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS abs_q,
                     round(list_distance(v, list_transform(q, x -> x / scale)), 6) AS err
              FROM t)
            SELECT label, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(abs_q) AS BIGINT) AS sum_abs_q,
                   round(CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_err,
                   max(err) AS max_err
            FROM e GROUP BY label ORDER BY label"""))

  /** TF-IDF-style term salience with a LINEAR idf (tf · N / df): the
    * float-log idf is not bit-portable cross-engine, while tf·N is an
    * exact integer product and one IEEE division by df is — same
    * ranking signal, hash-stable oracle (the q_rarity_score
    * integer-arithmetic rule applied to tf-idf). Shapes: one explode +
    * two hash aggregates (tf per (doc, term), df per term), an equi-join
    * on term, and a one-row broadcast for N — no global sort before the
    * final top-k heap. */
  val qTfidf = Q(
    "q_tfidf",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // df from tf, not from a second pass over toks: tf already holds
      // one row per distinct (doc, term), so counting tf rows per term
      // IS the document frequency — and counting the (never-null) tf
      // COLUMN rather than lit(1) keeps this subtree byte-identical to
      // the join's left input, so AQE reuses ONE materialized tf stage
      // for both consumers (count(lit(1)) let column pruning drop the
      // count from this branch and broke the reuse). One tokenize pass
      // instead of two, no countDistinct expansion (guide §2.3/§2.4).
      val df = tf.groupBy("token").agg(count(col("tf")).as("df"))
      val n = Tables.documents(s, dir)
        .agg(countDistinct("doc_id").as("n_docs"))
      tf.join(df, Seq("token"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round((col("tf") * col("n_docs")).cast("double") / col("df"), 6).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("token"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
                          FROM documents),
                 tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                        FROM toks GROUP BY doc_id, token),
                 df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                        FROM toks GROUP BY token),
                 n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
            SELECT doc_id, token, tf, df,
                   round(CAST(tf * n_docs AS DOUBLE) / df, 6) AS tfidf
            FROM tf JOIN df USING (token) CROSS JOIN n
            ORDER BY tfidf DESC, doc_id, token LIMIT 20"""))

  /** Length-decile audit via ntile: per language, quartile documents by
    * n_chars (full doc_id tiebreak → deterministic bucket edges) and
    * profile each quartile — the distribution table a curriculum/
    * length-bucketing step is driven from. The window shuffles once on
    * lang; no global sort. Honest scale bound: each stratum sorts on
    * ONE task — fine while strata are languages (dozens), wrong if a
    * stratum holds billions of rows; there, derive cutpoints from
    * approx_percentile and bucket map-side instead of ranking. */
  val qNtileBuckets = Q(
    "q_ntile_buckets",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("lang", "quartile")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang", "quartile")
    },
    Some("""SELECT lang, CAST(quartile AS INTEGER) AS quartile,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM (SELECT lang, n_chars,
                         ntile(4) OVER (PARTITION BY lang
                           ORDER BY n_chars, doc_id) AS quartile
                  FROM documents)
            GROUP BY lang, quartile ORDER BY lang, quartile"""))

  /** Deterministic WEIGHTED Bernoulli sample: keep a document with
    * probability n_chars / max(n_chars) — the reproducible "sample
    * proportional to length/quality" draw. The uniform variate is the
    * portable hash mapped to [0,1) (h60 / 2^60 — numerator < 2^60 and
    * the divisor is a power of two, so the division is exact); the
    * weight bound is a one-row broadcast. Pure map-side filter at any
    * scale, identical row set on every engine and every run. */
  val qSampleWeighted = Q(
    "q_sample_weighted",
    (s, dir) => {
      val m = Tables.documents(s, dir).agg(max("n_chars").as("max_chars"))
      Tables.documents(s, dir)
        .crossJoin(broadcast(m))
        .where(T.h60(col("doc_id").cast("string")).cast("double") / lit(1152921504606846976.0) <
          col("n_chars").cast("double") / col("max_chars").cast("double"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("sampled_chars"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
                    CAST(sum(n_chars) AS BIGINT) AS sampled_chars
             FROM documents CROSS JOIN (SELECT max(n_chars) AS max_chars FROM documents)
             WHERE CAST(${T.sqlH60("doc_id::VARCHAR")} AS DOUBLE) / 1152921504606846976.0 <
                   CAST(n_chars AS DOUBLE) / CAST(max_chars AS DOUBLE)
             GROUP BY lang ORDER BY lang"""))

  /** Training-shard EXPORT round-trip — the pipeline's last mile: pack
    * documents to a fixed token budget (q_pack_docs packing), write
    * line-delimited JSON partitioned by (lang, pack_id) — the shard
    * layout a trainer consumes — then read the shards back and profile
    * each pack. The oracle computes the same profile straight from the
    * source table, and the per-pack `bit_xor` of portable text hashes
    * makes the equality a BYTE-fidelity proof: every document, every
    * pack assignment, every text byte survived the JSON boundary
    * (xor is order-independent and cannot overflow, unlike a sum of
    * 60-bit hashes). */
  val qExportShards = Q(
    "q_export_shards",
    (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      // the export WRITE is built once per (session, sfDir) —
      // BuiltFixtures scaladoc; the measured surface is the shard
      // read-back + per-pack profile across the JSON boundary
      val out = BuiltFixtures.once(s, dir, "export_shards") {
        // keyed by the SANITIZED FULL dir (collision-free, unlike a 32-bit
        // hashCode) plus the Spark application id, so two concurrent
        // sessions on the same sfDir write disjoint round-trip dirs
        val o = BuiltFixtures.sessionTmp(s, dir, "export")
        val tokens = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text"),
            size(T.tokens(col("text"))).cast("long").as("t"))
        graft.operators.Curation.packIds(tokens, "lang", "doc_id", "t", 2048L)
          .write.mode("overwrite").partitionBy("lang", "pack_id").json(o)
        o
      }
      s.read.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("t", LongType))))
        .json(out)
        .withColumn("h", T.h60(col("text")))
        .groupBy(col("lang"), col("pack_id").cast("long").as("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("t").as("pack_tokens"),
          expr("bit_xor(h)").as("text_h"))
        .orderBy("lang", "pack_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, text,
                               len(string_split(text, ' '))::BIGINT AS t
                        FROM documents),
                 c AS (SELECT lang, text, t,
                              sum(t) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
                       FROM t)
             SELECT lang, CAST((cum - t) // 2048 AS BIGINT) AS pack_id,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(t) AS BIGINT) AS pack_tokens,
                    CAST(bit_xor(${T.sqlH60("text")}) AS BIGINT) AS text_h
             FROM c GROUP BY 1, 2 ORDER BY lang, pack_id"""))

  /** Deterministic epoch-seeded global shuffle — the training-order op:
    * each epoch orders the corpus by h60(doc_id ":" epoch), a stable
    * uniform permutation that reshuffles every epoch with no RNG state
    * to checkpoint (resume = re-evaluate the expression). At 100 TB the
    * real artifact is the SORT itself (repartitionByRange +
    * sortWithinPartitions on the key, then shard export — the
    * q_export_shards tail); this audit view takes each epoch's first
    * 10 positions, which Spark plans as TakeOrderedAndProject per
    * epoch — no single-partition global window ever sees the corpus
    * (row_number runs over the 20 surviving rows only). */
  val qTrainOrder = Q(
    "q_train_order",
    (s, dir) => {
      val eps = Seq(1, 2).map { e =>
        Tables.documents(s, dir)
          .select(lit(e).as("epoch"), col("doc_id"),
            T.h60(concat(col("doc_id").cast("string"), lit(s":$e"))).as("shuffle_key"))
          .orderBy(col("shuffle_key"), col("doc_id"))
          .limit(10)
      }
      eps.reduce(_ union _)
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("epoch").orderBy(col("shuffle_key"), col("doc_id"))))
        .select(col("epoch"), col("pos"), col("doc_id"), col("shuffle_key"))
        .orderBy("epoch", "pos")
    },
    Some(s"""WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2 AS epoch),
                 r AS (SELECT epoch, doc_id,
                              ${T.sqlH60("(doc_id::VARCHAR || ':' || epoch::VARCHAR)")} AS shuffle_key,
                              row_number() OVER (PARTITION BY epoch
                                ORDER BY ${T.sqlH60("(doc_id::VARCHAR || ':' || epoch::VARCHAR)")}, doc_id) AS pos
                       FROM documents CROSS JOIN e)
             SELECT epoch, CAST(pos AS INTEGER) AS pos, doc_id, shuffle_key
             FROM r WHERE pos <= 10 ORDER BY epoch, pos"""))

  /** NESTED-METADATA round-trip ([[graft.Lake]] `metadata_json` ingest +
    * `metadataField`): documents ingest with their (lang, origin.source,
    * origin.n_chars) packed as one nested JSON document riding opaquely
    * in the stored string map; the query then filters and groups on
    * nested paths read back with `get_json_object` — the reference's
    * arbitrary-dict metadata (index.py:266) expressed without widening
    * the stored schema. The oracle knows nothing about the lake: it
    * recomputes the same aggregate straight from the source table. */
  /** Shared fixture for the nested-metadata round-trips: documents
    * joined to their embeddings, the (lang, origin.{source, n_chars})
    * structure riding as opaque `metadata_json`, and the zone map
    * built over the NUMERIC nested field `origin.n_chars` — the
    * field-range pruning surface q_field_range reads back. One
    * definition so the oracles can never diverge from different
    * setups. */
  private def metaJsonLake(s: org.apache.spark.sql.SparkSession,
      dir: String): Lake =
    BuiltFixtures.once(s, dir, "meta_json") {
      val tmp = BuiltFixtures.sessionTmp(s, dir, "metajson")
      val l = Lake(s, LakeConfig(tmp, dim = 64, numHashes = 4))
      l.delete()
      val docs = Tables.documents(s, dir).where(col("doc_id") < 300)
      val emb = Tables.embeddings(s, dir)
      l.ingest(docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id").cast("string").as("id"),
          col("embedding").as("vector"),
          col("text").as("document"),
          to_json(struct(col("lang"),
            struct(col("source"), col("n_chars")).as("origin")))
            .as("metadata_json")))
      l.buildZoneMap(fields = Seq("origin.n_chars"))
      l
    }

  val qMetaJson = Q(
    "q_meta_json",
    (s, dir) => {
      val lake = metaJsonLake(s, dir)
      lake.read()
        .where(lake.metadataField("lang") === "en")
        .groupBy(lake.metadataField("origin.source").as("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(lake.metadataField("origin.n_chars").cast("long")).as("chars"))
        .orderBy("source")
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents WHERE doc_id < 300 AND lang = 'en'
            GROUP BY source ORDER BY source"""))

  /** NESTED-FIELD RANGE round-trip ([[graft.Lake.readFieldRange]] over
    * [[metaJsonLake]]): rows whose `origin.n_chars` — a numeric field
    * inside the opaque metadata JSON — lies in [200, 400]. The point
    * at 100 TB: JSON-extracted fields have NO parquet column
    * statistics, so every "quality in [a, b]" curation pass opens
    * every file; the field zone map restores per-file (min, max)
    * pruning for exactly the paths the build named. The oracle filters
    * the source table's real column — equality proves the pruned read
    * returns exactly the range's rows. */
  val qFieldRange = Q(
    "q_field_range",
    (s, dir) => {
      val lake = metaJsonLake(s, dir)
      lake.readFieldRange("origin.n_chars", 200.0, 400.0)
        .select(col("id"),
          lake.metadataField("origin.n_chars").cast("long").as("n_chars"),
          lake.metadataField("origin.source").as("source"))
        .orderBy("id")
    },
    Some("""SELECT CAST(doc_id AS VARCHAR) AS id,
                   CAST(n_chars AS BIGINT) AS n_chars, source
            FROM documents WHERE doc_id < 300 AND n_chars BETWEEN 200 AND 400
            ORDER BY id"""))

  def all: Seq[Q] = Seq(qSplitTrainTest, qSampleStratified, qDomainMix, qMetaJson,
    qBpePairs, qNormOutliers, qChunkDocs, qDecontaminate, qPackDocs,
    qVocabTop, qQuantizeInt8, qCompactStats, qCompactInc, qMaintainStats,
    qSkipLookup, qChangeFeed, qTimeTravel, qTimeRange, qKnnFresh,
    qFieldRange, qTfidf,
    qNtileBuckets, qSampleWeighted, qExportShards, qTrainOrder)
}
