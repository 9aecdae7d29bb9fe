package graft

import java.nio.file.Files

/** SQL stored procedures ([[graft.sources.GraftProcedures]]): the
  * maintenance lifecycle — maintain / compact / vacuum / repair /
  * seal — driven from `spark.sql` ONLY, against both catalog-resolved
  * table names and raw lake paths, with results served as one-row
  * frames and the discovery statements (SHOW PROCEDURES, DESCRIBE
  * PROCEDURE) working. */
class GraftProceduresSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_proc_wh").toString
    spark.conf.set("spark.sql.catalog.plakes",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.plakes.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS plakes.default")
    w
  }

  private def sql(s: String) = spark.sql(s)

  private def mkTable(name: String): String = {
    warehouse
    sql(s"DROP TABLE IF EXISTS plakes.default.$name")
    sql(s"""CREATE TABLE plakes.default.$name (vector array<float>, document string)
            USING graft OPTIONS (dim '4', numHashes '2')""")
    name
  }

  private def ingestBatches(name: String, batches: Int): Unit =
    (0 until batches).foreach { b =>
      sql(s"""INSERT INTO plakes.default.$name (vector, document)
              VALUES (array(1.0F, ${b}.0F, 0.0F, 0.0F), 'a$b'),
                     (array(0.0F, 1.0F, ${b}.0F, 0.0F), 'b$b'),
                     (array(${b}.0F, 0.0F, 1.0F, 1.0F), 'c$b')""")
    }

  test("CALL compact rewrites a fragmented lake; rows survive bit-for-bit") {
    val t = mkTable("pc_compact")
    ingestBatches(t, 5)
    val before = sql(s"SELECT document FROM plakes.default.$t")
      .as[String].collect().sorted
    // file counts through the format's own `files` view (SQL-only spec)
    def files(): Long = spark.read.format("graft").option("view", "files")
      .load(s"$warehouse/default/$t").count()
    val filesBefore = files()
    val r = sql(
      s"CALL plakes.system.compact(table => 'default.$t', incremental => false)")
      .collect()
    assert(r.length === 1)
    assert(r.head.schema.fieldNames.toSeq === Seq("rewritten"))
    val filesAfter = files()
    assert(filesAfter < filesBefore,
      s"compact did not reduce files: $filesBefore -> $filesAfter")
    assert(r.head.getLong(0) === filesAfter,
      "full compact reports the file count after rewrite")
    assert(sql(s"SELECT document FROM plakes.default.$t")
      .as[String].collect().sorted.toSeq === before.toSeq)
    // cluster_by: range-clustered rewrite through the SQL face — rows
    // survive identically (the zone-selectivity contrast itself is
    // CompactionSpec's Scala-level pin)
    sql(s"""CALL plakes.system.compact(table => 'default.$t',
              incremental => false, cluster_by => 'timestamp')""").collect()
    assert(sql(s"SELECT document FROM plakes.default.$t")
      .as[String].collect().sorted.toSeq === before.toSeq)
  }

  test("CALL maintain returns the policy report; a converged lake reports a no-op") {
    val t = mkTable("pc_maintain")
    ingestBatches(t, 2)
    val r1 = sql(s"CALL plakes.system.maintain(table => 'default.$t')").collect()
    assert(r1.length === 1)
    assert(r1.head.schema.fieldNames.toSeq === Seq("compacted_shards",
      "skip_refreshed", "vacuum_swept",
      "recall_recalibrated", "expired_rows", "max_shard_bytes",
      "median_shard_bytes", "reshard_recommended", "reshard_pending_dirs"))
    // a second immediate call finds nothing left to justify
    val r2 = sql(s"CALL plakes.system.maintain(table => 'default.$t')").collect().head
    assert(r2.getLong(0) === 0L, "second maintain compacted nothing")
    assert(!r2.getBoolean(1))
  }

  test("CALL seal then vacuum: versions commit and dead state sweeps; raw-path refs work") {
    val t = mkTable("pc_seal")
    ingestBatches(t, 2)
    val v = sql(s"CALL plakes.system.seal(table => 'default.$t')")
      .collect().head.getLong(0)
    assert(v > 0L)
    // compact to strand a dead generation, then vacuum with retain 0
    sql(s"CALL plakes.system.compact(table => 'default.$t', incremental => false)")
    val swept = sql(
      s"CALL plakes.system.vacuum(table => 'default.$t', retain_ms => 0)")
      .collect().head.getLong(0)
    assert(swept >= 0L)
    // the RAW PATH spelling resolves the same lake (repair = force path)
    val loc = s"$warehouse/default/$t"
    val swept2 = sql(s"CALL plakes.system.repair(table => '$loc')")
      .collect().head.getLong(0)
    assert(swept2 >= 0L)
    assert(sql(s"SELECT count(*) FROM plakes.default.$t")
      .head().getLong(0) === 6L, "maintenance never lost a row")
  }

  test("replication procedure results are a stable PySpark-facing contract: pinned schemas, |shards|-bounded summaries") {
    // clone/sync/diff/heal return ONE summary row built driver-side
    // from a |shards|-bounded collect (GraftProcedures notes the
    // bound) — Python consumers read the fields BY NAME, so the
    // shapes are pinned here and may only grow, never rename
    val t = mkTable("pc_shapes")
    ingestBatches(t, 2)
    val v1 = sql(s"CALL plakes.system.seal(table => 'default.$t')")
      .collect().head.getLong(0)
    val loc2 = warehouse + "/pc_shapes_replica"
    val c = sql(s"""CALL plakes.system.clone(table => 'default.$t',
      target_location => '$loc2')""").collect().head
    assert(c.schema.fieldNames.toSeq === Seq("target", "rows"))
    assert(c.getString(0) === loc2 && c.getLong(1) === 6L)
    val d = sql(s"CALL plakes.system.diff(replica => '$loc2', source => 'default.$t')")
      .collect().head
    assert(d.schema.fieldNames.toSeq ===
      Seq("shards", "diverged", "rows_replica", "rows_source"))
    assert(d.getLong(1) === 0L && d.getLong(2) === d.getLong(3))
    val h = sql(s"CALL plakes.system.heal(replica => '$loc2', source => 'default.$t')")
      .collect().head
    assert(h.schema.fieldNames.toSeq === Seq("shards_repaired", "rows_rewritten"))
    assert(h.getLong(0) === 0L && h.getLong(1) === 0L)
    ingestBatches(t, 1)
    val v2 = sql(s"CALL plakes.system.seal(table => 'default.$t')")
      .collect().head.getLong(0)
    val sy = sql(s"""CALL plakes.system.sync(replica => '$loc2',
      source => 'default.$t', from_version => $v1, to_version => $v2)""")
      .collect().head
    assert(sy.schema.fieldNames.toSeq === Seq("deleted", "inserted"))
    assert(sy.getLong(0) === 0L && sy.getLong(1) === 3L)
    // ... and the reshard report's shape is part of the same contract
    val r = sql(s"CALL plakes.system.reshard(table => 'default.$t', num_hashes => 3)")
      .collect().head
    assert(r.schema.fieldNames.toSeq === Seq("num_shards", "pending_dirs"))
  }

  test("CALL reshard grows the width incrementally; a partial call leaves a resumable SQL-refused state") {
    val t = mkTable("pc_reshard")
    ingestBatches(t, 4)
    val before = sql(s"SELECT count(*) FROM plakes.default.$t")
      .collect().head.getLong(0)
    // partial: one source directory only — pending remains, the SQL
    // scan refuses loudly (it cannot re-derive dir-named values), and
    // maintain reports progress instead of throwing
    val p1 = sql(s"""CALL plakes.system.reshard(table => 'default.$t',
      num_hashes => 4, max_dirs => 1, dirs_per_commit => 1)""")
      .collect().head
    assert(p1.getLong(0) === 16L)
    assert(p1.getLong(1) > 0L, "expected pending dirs after max_dirs => 1")
    val e = intercept[Exception](
      sql(s"SELECT count(*) FROM plakes.default.$t").collect())
    assert(e.getMessage.contains("reshard"))
    val m = sql(s"CALL plakes.system.maintain(table => 'default.$t')")
      .collect().head
    assert(m.getAs[Long]("reshard_pending_dirs") > 0L)
    assert(!m.getAs[Boolean]("reshard_recommended"))
    // resume to completion: the catalog resolves the width from the
    // sidecar, so the same CALL finishes the job
    val p2 = sql(s"""CALL plakes.system.reshard(table => 'default.$t',
      num_hashes => 4)""").collect().head
    assert(p2.getLong(0) === 16L && p2.getLong(1) === 0L)
    assert(sql(s"SELECT count(*) FROM plakes.default.$t")
      .collect().head.getLong(0) === before)
    // post-reshard the oversized-shard signal fires under a 1-byte
    // target (any data crosses it) and stays down at the default
    val m2 = sql(s"""CALL plakes.system.maintain(table => 'default.$t',
      target_shard_bytes => 1)""").collect().head
    assert(m2.getAs[Boolean]("reshard_recommended"))
    assert(m2.getAs[Long]("max_shard_bytes") > 1L)
    assert(m2.getAs[Long]("reshard_pending_dirs") === 0L)
  }

  test("CALL derive builds, refreshes, and re-keys a co-located feature table from pure SQL; the join works by name") {
    val name = mkTable("dervsql")
    ingestBatches(name, 2)
    val dloc = Files.createTempDirectory("graft_proc_derv").toString + "/feat"
    val transform =
      "SELECT id, shard, length(document) AS doc_len FROM __base__"
    // BUILD
    val r1 = sql(s"""CALL plakes.system.derive(table => 'default.$name',
      target => '$dloc', transform => '$transform')""").collect().head
    assert(r1.getLong(2) === 4L, "num_shards should be 2^2")
    // pure-SQL join: register the derived location and join by name
    sql(s"CREATE TABLE plakes.default.dervsql_feat USING graft LOCATION '$dloc'")
    def joined() = sql(
      s"""SELECT b.id, b.document, f.doc_len
          FROM plakes.default.$name b
          JOIN plakes.default.dervsql_feat f ON b.shard = f.shard AND b.id = f.id""")
    assert(joined().count() === 6L)
    assert(joined().where("doc_len <> length(document)").count() === 0L)
    // REFRESH: more rows, same CALL — incremental
    ingestBatches(name, 1)
    val r2 = sql(s"""CALL plakes.system.derive(table => 'default.$name',
      target => '$dloc', transform => '$transform')""").collect().head
    assert(r2.getLong(1) > r1.getLong(1), "refresh should commit a new generation")
    assert(joined().count() === 9L)
    // RESHARD then RE-KEY: the width changes, derive refuses with the
    // re-key recovery, derive_rekey restores the co-location
    sql(s"CALL plakes.system.reshard(table => 'default.$name', num_hashes => 3)")
    val e = intercept[Exception](sql(
      s"""CALL plakes.system.derive(table => 'default.$name',
          target => '$dloc', transform => '$transform')""").collect())
    assert(e.getMessage.contains("resharded"), e.getMessage)
    val r3 = sql(s"""CALL plakes.system.derive_rekey(table => 'default.$name',
      target => '$dloc', transform => '$transform')""").collect().head
    assert(r3.getLong(2) === 8L, "re-key should land at the new width")
    assert(joined().count() === 9L)
    assert(joined().where("doc_len <> length(document)").count() === 0L)
    // a transform without the placeholder refuses loudly
    val e2 = intercept[Exception](sql(
      s"""CALL plakes.system.derive(table => 'default.$name',
          target => '$dloc', transform => 'SELECT 1')""").collect())
    assert(e2.getMessage.contains("__base__"))
    sql("DROP TABLE plakes.default.dervsql_feat")
  }

  test("discovery and refusals: SHOW PROCEDURES, DESCRIBE, unknown name, wrong namespace, missing table") {
    warehouse
    val names = sql("SHOW PROCEDURES IN plakes.system").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|"))
    graft.sources.GraftProcedures.names.foreach(n =>
      assert(names.exists(_.contains(n)), s"missing procedure $n in ${names.toSeq}"))
    val desc = sql("DESCRIBE PROCEDURE plakes.system.maintain").collect()
      .map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("maintain"))
    // Spark wraps loadProcedure failures as FAILED_TO_LOAD_ROUTINE;
    // our message rides the cause chain
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e1 = intercept[Exception](
      sql("CALL plakes.system.nope(table => 'default.x')").collect())
    assert(messages(e1).exists(_.contains("no procedure")), messages(e1))
    val e2 = intercept[Exception](
      sql("CALL plakes.default.maintain(table => 'default.x')").collect())
    assert(messages(e2).exists(_.contains("system")), messages(e2))
    val e3 = intercept[Exception](
      sql("CALL plakes.system.maintain(table => 'default.does_not_exist')").collect())
    assert(e3.getMessage.toLowerCase.contains("table"))
    // a NULL argument must refuse loudly, never unbox to 0/false (a
    // NULL retain_ms silently becoming 0 would sweep every dead
    // generation immediately)
    val t = mkTable("pc_null")
    val e4 = intercept[Exception](sql(
      s"CALL plakes.system.vacuum(table => 'default.$t', retain_ms => NULL)")
      .collect())
    assert(messages(e4).exists(_.contains("NULL")), messages(e4))
  }

  test("procedure writes honor the same refusals as the Scala API: a PQ lake refuses a codebook-less rewrite") {
    import graft.operators.Pq
    val dim = 8
    val data = Seq.tabulate(32)(i =>
      (i.toLong, Seq.tabulate(dim)(j => math.cos(i * 13 + j).toFloat)))
      .toDF("id", "vec")
    val model = Pq.round6(Pq.train(data, "vec", "id", dim = dim, m = 4, k = 8, iters = 1))
    val loc = Files.createTempDirectory("graft_proc_pq").toString + "/lake"
    val pq = Lake(spark, LakeConfig(loc, dim = dim, numHashes = 2,
      pqCodebooks = Some(model)))
    pq.ingest(data.select(org.apache.spark.sql.functions.col("vec")
      .cast("array<float>").as("vector")))
    warehouse
    // compact through the procedure resolves config from the sidecar,
    // which cannot rebuild the codebooks -> the rewrite must refuse
    // rather than strip pq_code
    val e = intercept[Exception](
      sql(s"CALL plakes.system.compact(table => '$loc')").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("pqCodebooks")), messages(e).mkString("; "))
    assert(pq.read().count() === 32)
  }
}
