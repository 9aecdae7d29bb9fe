package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Lsh

/** ScalaCheck mirror of the reference's Hypothesis property suite
  * (/root/reference/tests/test_properties.py): router range for
  * arbitrary vectors (:33-38), add-returns-valid-shard (:41-46),
  * |query(k)| ≤ k with correct dimensionality (:49-58), empty-store
  * query (:74-85). */
class LakePropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic forAll: drive a ScalaCheck Gen from a fixed seed
    * (no scalatest-plus bridge in the offline dependency cache). */
  private def forAll[A](gen: Gen[A], n: Int = 60)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), 25) { case (a, b) => f(a, b) }

  private val dim = 5
  private val lsh = Lsh(dim = dim, numHashes = 4)
  private val vecGen: Gen[List[Double]] =
    Gen.listOfN(dim, Gen.chooseNum(-1.0, 1.0))

  /** Model-based maintenance fuzz: a random op sequence over the full
    * mutating surface, checked against an in-memory Map model AFTER
    * EVERY op — the strongest correctness artifact for the
    * generation-pointer layout (manifest multi-entries, gen
    * accumulation, targeted rewrites, sweeps, and their interleavings
    * all arise naturally from the sequence). Seeded: failures replay. */
  /** One full 40-step maintenance-model fuzz run (op mix, model, and
    * invariants in the body) — seed-parameterized so independent seeds
    * drive DIFFERENT interleavings through the same checks. */
  private def maintenanceFuzz(seed: Long): Unit = {
    val rng = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("graft_fuzz").toString
    // `lake` REBINDS when the reshard op grows the routing width (the
    // old instance is stale by contract); `width` tracks it for the
    // SQL write path's options
    var lake = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    var width = 3
    val reshardRng = new scala.util.Random(seed ^ 0x5eed)
    val derivedRng = new scala.util.Random(seed ^ 0xde51ed)
    var model = Map.empty[String, (Seq[Float], String)] // id -> (vector, doc)
    // id -> synthetic ingest day (rows carry EXPLICIT event times so
    // the zone-map window reads below have a model to check against)
    var days = Map.empty[String, Int]
    var day = 0
    def ts(d: Int) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(d.toLong * 86400))
    var nextId = 0
    // SCHEMA EVOLUTION in the fuzz: registered extra column names (all
    // string-typed here), and per-id expected values — a row carries
    // "id:col" for every column registered AT ITS WRITE TIME, null for
    // columns evolved later (the null-fill contract under arbitrary
    // rewrite interleavings)
    var extraNames = Vector.empty[String]
    var extraVals = Map.empty[String, Map[String, String]]
    def withExtras(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      extraNames.foldLeft(df)((d, n) => d.withColumn(n,
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.lit(":" + n))))
    def stampExtras(ids: Seq[String]): Unit =
      extraVals ++= ids.map(id => id -> extraNames.map(n => n -> s"$id:$n").toMap)
    def freshRows(n: Int): Seq[(String, Seq[Float], String)] =
      (0 until n).map { _ =>
        val id = s"f$nextId"; nextId += 1
        (id, Seq.fill(dim)(rng.nextGaussian().toFloat), s"doc $id")
      }
    def check(op: String): Unit = {
      val frame = lake.read()
      val got = frame.select("id", "vector", "document").collect()
        .map(r => r.getString(0) ->
          ((r.getAs[scala.collection.Seq[Float]]("vector").toSeq, r.getString(2))))
        .toMap
      assert(got === model, s"after $op: lake diverged from model " +
        s"(lake-only: ${(got.keySet -- model.keySet).take(5)}, " +
        s"model-only: ${(model.keySet -- got.keySet).take(5)})")
      // evolved columns: the read serves exactly the registered set,
      // and every row holds its write-time values (null pre-evolve)
      assert(frame.columns.toSet ===
        (Set("id", "vector", "metadata", "document", "timestamp", "shard")
          ++ extraNames), s"after $op: column set")
      if (extraNames.nonEmpty) {
        val gotEx = frame
          .select("id", extraNames: _*).collect()
          .map(r => r.getString(0) -> extraNames.zipWithIndex.map {
            case (n, i) => n -> Option(r.getString(i + 1)) }.toMap)
          .toMap
        val wantEx = model.keySet.map(id => id -> extraNames.map(n =>
          n -> extraVals.get(id).flatMap(_.get(n))).toMap).toMap
        assert(gotEx === wantEx, s"after $op: evolved-column values diverged")
      }
    }
    // change-feed sync point taken mid-sequence: (version, model at seal)
    var sync: Option[(Long, Map[String, (Seq[Float], String)])] = None
    // anti-entropy replica: forked once, then healed mid-sequence by
    // repairFrom against whatever drift accumulated since
    var replica: Option[Lake] = None
    // SQL row-level DML rides the catalog — registered lazily at the
    // first DML op (the lake must exist to adopt)
    var dmlTable: Option[String] = None
    def dmlTableName(): String = dmlTable.getOrElse {
      // seed-scoped catalog name: a shared one would pin the FIRST
      // run's lake location for every later seed
      val cat = s"fuzzcat$seed"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$dir/fuzzwh")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.default.fuzz " +
        s"USING graft LOCATION '${lake.cfg.location}'")
      dmlTable = Some(s"$cat.default.fuzz")
      dmlTable.get
    }
    // streaming-sink batch counter (the exactly-once ledger's clock)
    var sinkBatch = 0L
    val opsRun = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 40).foreach { step =>
      // INCREMENTAL RESHARD prelude on ~1/16 of steps, drawn from a
      // SECOND seeded stream so the primary op sequence (and its
      // coverage guarantees) stays byte-identical to earlier rounds':
      // begin + one committed step, CHECK THE MODEL AGAINST THE
      // MID-RESHARD READ (pending directories re-derive per row — the
      // pin that a half-resharded lake never serves a wrong row set),
      // then resume to completion and rebind at the new width. The
      // anti-entropy replica reshards itself to the same width —
      // routing is deterministic, so the next repairFrom audit must
      // convict nothing that DML drift does not explain.
      if (reshardRng.nextInt(16) == 0 && lake.exists() && width < 6 &&
          model.nonEmpty) {
        val mid = lake.reshard(width + 1, maxDirs = 1, dirsPerCommit = 1)
        val midGot = mid.read().select("id", "vector", "document")
          .collect()
          .map(r => r.getString(0) ->
            ((r.getAs[scala.collection.Seq[Float]]("vector").toSeq,
              r.getString(2))))
          .toMap
        assert(midGot === model,
          s"step $step: MID-RESHARD read diverged from the model " +
            s"(lake-only: ${(midGot.keySet -- model.keySet).take(5)}, " +
            s"model-only: ${(model.keySet -- midGot.keySet).take(5)})")
        // every mid-reshard row reads at the NEW width
        assert(mid.read().where(org.apache.spark.sql.functions.col("shard")
          =!= Lsh(dim, width + 1).shardCol(
            org.apache.spark.sql.functions.col("vector")))
          .count() === 0L,
          s"step $step: mid-reshard rows not derived to the new width")
        lake = mid.reshard(width + 1) // resume to completion
        width += 1
        replica = replica.map(_.reshard(width))
        opsRun += "reshard"
        check(s"step $step: reshard")
      }
      // CO-LOCATED DERIVED TABLE side-channel on ~1/8 of steps, on its
      // OWN seeded stream (the primary op sequence stays byte-identical
      // to earlier rounds'): refresh a feature table over whatever
      // churn the sequence produced — appends, deletes, upserts, DML,
      // expire, compaction, reshard — and require the CO-LOCATED JOIN
      // to reproduce the model exactly. Recoveries exercised as they
      // arise: a resharded base and a vacuumed-away sync point both
      // refuse the incremental path and heal by rebuild; a
      // streaming-owned generation skips the step (seal refuses).
      if (derivedRng.nextInt(8) == 0 && lake.exists() && model.nonEmpty) {
        import org.apache.spark.sql.functions.{col, length}
        val dloc = s"$dir/fuzz_derived"
        val f = (df: org.apache.spark.sql.DataFrame) =>
          df.select(col("id"), col("shard"),
            length(col("document")).as("doc_len"))
        def tryDerive(rebuild: Boolean): Option[DerivedTable] =
          try Some(lake.deriveTo(dloc, rebuild)(f))
          catch {
            // seal/changesBetween refuse under a stream-owned
            // generation (require -> IllegalArgumentException)
            case e: Exception if Option(e.getMessage)
                .exists(_.contains("streaming")) => None
            case e: IllegalArgumentException
                if !rebuild && (e.getMessage.contains("resharded") ||
                  e.getMessage.contains("vacuumed") ||
                  e.getMessage.contains("no sidecar version")) =>
              tryDerive(rebuild = true)
          }
        val d = tryDerive(rebuild = false)
        d.foreach { dt =>
          val got = lake.joinDerived(dt)
            .select("id", "doc_len").collect()
            .map(r => r.getString(0) -> r.getInt(1)).toMap
          val want = model.map { case (id, (_, doc)) => id -> doc.length }
          assert(got === want,
            s"step $step: derived join diverged from the model " +
              s"(join-only: ${(got.keySet -- want.keySet).take(5)}, " +
              s"model-only: ${(want.keySet -- got.keySet).take(5)})")
          opsRun += "derive"
        }
      }
      val op = rng.nextInt(28) match {
        case 26 | 27 =>
          // SQL ROW-LEVEL DML mid-sequence: UPDATE re-documents random
          // rows, or a MERGE negates one row's vector (a shard move
          // through the delta path) and inserts one fresh row — the
          // staged-codec round trip under whatever extras/timestamps/
          // maps the sequence has accumulated, against the model
          if (!lake.exists() || model.isEmpty) "sql dml (skipped, empty)"
          else if (rng.nextBoolean()) {
            val targets = rng.shuffle(model.keySet.toList).take(2)
            spark.sql(s"UPDATE ${dmlTableName()} SET document = " +
              "concat('dml ', id) WHERE id IN (" +
              targets.map("'" + _ + "'").mkString(",") + ")")
            targets.foreach(id => model += id -> ((model(id)._1, s"dml $id")))
            "sql update"
          } else {
            val negKey = rng.shuffle(model.keySet.toList).head
            val fresh = freshRows(1).head
            day += 1
            Seq((negKey, model(negKey)._1.map(-_), ""),
              (fresh._1, fresh._2, fresh._3))
              .toDF("key", "vec", "doc")
              .withColumn("tsv", org.apache.spark.sql.functions.lit(ts(day)))
              .createOrReplaceTempView("fuzz_dml_src")
            spark.sql(s"""MERGE INTO ${dmlTableName()} t
              USING fuzz_dml_src s ON t.id = s.key
              WHEN MATCHED THEN UPDATE SET vector = s.vec
              WHEN NOT MATCHED THEN
                INSERT (id, vector, document, timestamp)
                VALUES (s.key, s.vec, s.doc, s.tsv)""")
            model += negKey -> ((model(negKey)._1.map(-_), model(negKey)._2))
            model += fresh._1 -> ((fresh._2, fresh._3))
            days += fresh._1 -> day
            // the MERGE insert sets no extras: its row must read back
            // all-null across every registered extra (no stampExtras)
            "sql merge"
          }
        case 24 | 25 =>
          // the SQL batch WRITE path (df.write.format("graft")) — must
          // be indistinguishable from lake.ingest in the model: same
          // derive, same routing, same extras, same staged publish
          val rows = freshRows(1 + rng.nextInt(6))
          day += 1
          withExtras(rows.map(r => (r._1, r._2, r._3, ts(day)))
            .toDF("id", "vector", "document", "timestamp"))
            .write.format("graft").mode("append")
            .option("dim", dim.toString).option("numHashes", width.toString)
            .save(lake.cfg.location)
          model ++= rows.map(r => r._1 -> ((r._2, r._3)))
          days ++= rows.map(r => r._1 -> day)
          stampExtras(rows.map(_._1))
          "sql write"
        case 0 | 1 | 2 =>
          val rows = freshRows(1 + rng.nextInt(8))
          day += 1
          lake.ingest(withExtras(rows.map(r => (r._1, r._2, r._3, ts(day)))
            .toDF("id", "vector", "document", "timestamp")))
          model ++= rows.map(r => r._1 -> ((r._2, r._3)))
          days ++= rows.map(r => r._1 -> day)
          stampExtras(rows.map(_._1))
          "ingest"
        case 3 | 4 =>
          // delete a random contiguous id band (may be empty)
          val lo = rng.nextInt(math.max(1, nextId))
          val hi = lo + rng.nextInt(6)
          val victims = model.keySet.filter { id =>
            val n = id.drop(1).toInt; n >= lo && n < hi
          }
          val deleted = lake.deleteWhere(
            org.apache.spark.sql.functions.col("id")
              .isin((lo until hi).map("f" + _): _*))
          assert(deleted === victims.size.toLong, s"step $step deleteWhere count")
          model --= victims; days --= victims; extraVals --= victims
          "deleteWhere"
        case 5 | 6 =>
          // upsert: replace up to 3 existing (new vector moves shards) + 2 new
          val existing = model.keySet.toSeq.sorted.take(3)
            .map(id => (id, Seq.fill(dim)(rng.nextGaussian().toFloat), s"v2 $id"))
          val fresh = freshRows(2)
          val batch = existing ++ fresh
          day += 1
          val replaced = lake.upsert(
            withExtras(batch.map(r => (r._1, r._2, r._3, ts(day)))
              .toDF("id", "vector", "document", "timestamp")))
          assert(replaced === existing.size.toLong, s"step $step upsert count")
          model ++= batch.map(r => r._1 -> ((r._2, r._3)))
          days ++= batch.map(r => r._1 -> day)
          stampExtras(batch.map(_._1))
          "upsert"
        case 7 => lake.compact(); "compact"
        case 8 => lake.compactIncremental(maxFilesPerShard = 2); "compactIncremental"
        case 9 => lake.vacuum(); "vacuum"
        case 10 =>
          if (lake.exists()) lake.buildSkipIndex()
          "buildSkipIndex"
        case 11 =>
          // deleteIds of a random existing sample + one absent id —
          // exercises the skip-index-bounded discovery whenever a prior
          // step built an index (fresh or stale, both must be exact)
          val sample = rng.shuffle(model.keySet.toList).take(rng.nextInt(4))
          val deleted = lake.deleteIds(sample :+ "no-such-id")
          assert(deleted === sample.size.toLong, s"step $step deleteIds count")
          model --= sample; days --= sample; extraVals --= sample
          "deleteIds"
        case 12 =>
          // lookup through whatever index state the sequence produced,
          // checked against the model
          val present = rng.shuffle(model.keySet.toList).take(2)
          val got = lake.lookup(present :+ "absent-id")
            .select("id", "document").collect()
            .map(r => r.getString(0) -> r.getString(1)).toSet
          assert(got === present.map(id => id -> model(id)._2).toSet,
            s"step $step lookup")
          "lookup"
        case 13 =>
          sync = Some(lake.seal() -> model)
          "seal"
        case 14 =>
          // TIME TRAVEL: the sealed snapshot must serve exactly the
          // model at seal time no matter what rewrites (delete/upsert/
          // compact/vacuum-survivors) ran since — q_time_travel's
          // invariant inside the model-based artifact, checked at a
          // random point of a random history
          sync.foreach { case (v, snap) =>
            try {
              val got = lake.readAt(v).select("id", "vector", "document")
                .collect()
                .map(r => r.getString(0) ->
                  ((r.getAs[scala.collection.Seq[Float]]("vector").toSeq,
                    r.getString(2))))
                .toMap
              assert(got === snap,
                s"step $step: readAt($v) diverged from the sealed-time model " +
                  s"(snapshot-only: ${(snap.keySet -- got.keySet).take(5)}, " +
                  s"readAt-only: ${(got.keySet -- snap.keySet).take(5)})")
            } catch {
              // vacuum may legally retire the snapshot — loud on use
              case e: IllegalStateException if e.getMessage.contains("vacuum") =>
                sync = None
              case e: IllegalArgumentException if e.getMessage.contains("no sidecar") =>
                sync = None
            }
          }
          "readAt snapshot"
        case 15 =>
          // ANTI-ENTROPY mid-sequence: the replica lags the source by
          // whatever mutation mix ran since the last repair (ingests,
          // deletes, shard-moving upserts, compactions, evolves, sink
          // batches, expirations) — repairFrom must converge it to the
          // CURRENT model in one pass, and a second pass must no-op
          replica match {
            case None =>
              if (lake.exists() && model.nonEmpty)
                replica = Some(lake.cloneTo(s"$dir/replica"))
              "clone anti-entropy replica"
            case Some(rep) =>
              rep.repairFrom(lake)
              val got = rep.read().select("id", "vector", "document")
                .collect()
                .map(r => r.getString(0) ->
                  ((r.getAs[scala.collection.Seq[Float]]("vector").toSeq,
                    r.getString(2))))
                .toMap
              assert(got === model,
                s"step $step: repaired replica diverged from the model " +
                  s"(replica-only: ${(got.keySet -- model.keySet).take(5)}, " +
                  s"model-only: ${(model.keySet -- got.keySet).take(5)})")
              assert(rep.repairFrom(lake) === ((0L, 0L)),
                s"step $step: repair did not converge in one pass")
              "repairFrom replica"
          }
        case 16 =>
          if (lake.exists()) lake.buildZoneMap()
          "buildZoneMap"
        case 19 =>
          // EVOLVE mid-sequence: later writes carry the column, every
          // earlier row must null-fill — under whatever rewrites follow
          val name = s"ec${extraNames.size}"
          lake.evolve(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(name,
              org.apache.spark.sql.types.StringType))))
          extraNames :+= name
          "evolve"
        case 17 | 18 =>
          // ZONE-MAP WINDOW READ against the model, through whatever
          // map state the sequence produced (absent, fresh, append-
          // refreshed, rewrite-refreshed, or half-dead after rewrites):
          // pruning may vary, the ROWS never may
          val lo = 1 + rng.nextInt(math.max(1, day))
          val hi = lo + rng.nextInt(3)
          val got = lake.readTimeRange(
              java.time.Instant.ofEpochSecond(lo.toLong * 86400),
              java.time.Instant.ofEpochSecond(hi.toLong * 86400))
            .select("id").collect().map(_.getString(0)).toSet
          val want = days.collect {
            case (id, d) if d >= lo && d <= hi => id }.toSet
          assert(got === want,
            s"step $step: readTimeRange([$lo,$hi]) diverged from the model " +
              s"(zone-only: ${(got -- want).take(5)}, " +
              s"model-only: ${(want -- got).take(5)})")
          "readTimeRange"
        case 21 | 22 =>
          // STREAMING-SINK batch (ingestExactlyOnce) interleaved with
          // every maintenance op the sequence produces: commit, then an
          // immediate replay (must no-op), and sometimes a simulated
          // torn commit (the sidecar version that recorded the batch
          // dropped: its files written, named by nothing) whose replay
          // must land the batch once, converging to the same model
          val rows = freshRows(1 + rng.nextInt(5))
          day += 1
          def df = withExtras(rows.map(r => (r._1, r._2, r._3, ts(day)))
            .toDF("id", "vector", "document", "timestamp"))
          assert(lake.ingestExactlyOnce(df, "fuzz-sink", sinkBatch),
            s"step $step: sink batch $sinkBatch not committed")
          model ++= rows.map(r => r._1 -> ((r._2, r._3)))
          days ++= rows.map(r => r._1 -> day)
          stampExtras(rows.map(_._1))
          assert(!lake.ingestExactlyOnce(df, "fuzz-sink", sinkBatch),
            s"step $step: replay of sink batch $sinkBatch not skipped")
          if (rng.nextInt(3) == 0) {
            val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            val newest = fs.listStatus(new org.apache.hadoop.fs.Path(lake.cfg.location))
              .map(_.getPath)
              .filter(p => Lake.metaNameRe.pattern.matcher(p.getName).matches())
              .maxBy(_.getName.split('.')(1).toLong)
            assert(ControlFiles.read[ControlFiles.LakeSidecar](fs, newest).sinks
              .exists(_.contains(ControlFiles.SinkBatch(
                Lake.sinkIdHex("fuzz-sink"), sinkBatch))),
              s"step $step: the newest version is not sink batch $sinkBatch's commit")
            fs.delete(newest, false)
            assert(lake.ingestExactlyOnce(df, "fuzz-sink", sinkBatch),
              s"step $step: torn replay of sink batch $sinkBatch not re-committed")
            val got = lake.read().select("id").collect().map(_.getString(0))
            assert(got.length === model.size && got.toSet === model.keySet,
              s"step $step: torn replay of sink batch $sinkBatch diverged from the model")
            assert(lake.validate().head().getAs[Long]("missing_files") === 0L,
              s"step $step: the torn attempt's unnamed files count as lake files")
          }
          sinkBatch += 1
          "sink batch"
        case 20 =>
          // TIERED RETENTION mid-sequence: expire everything older
          // than a random day cut — whichever mix of
          // wholesale-certified manifest dirs and straddling rewrites
          // the sequence's zone/seal state happens to allow, the
          // surviving row set must equal the model's
          val c = 1 + rng.nextInt(math.max(1, day))
          val victims = days.collect { case (id, d) if d < c => id }.toSet
          val (retired, rewritten) = lake.expire(
            java.time.Instant.ofEpochSecond(c.toLong * 86400))
          assert(retired + rewritten === victims.size.toLong,
            s"step $step: expire(<day $c) counted ${retired + rewritten}, " +
              s"model says ${victims.size}")
          model --= victims; days --= victims; extraVals --= victims
          "expire"
        case _ =>
          // replay the change feed from the last sync point over that
          // moment's model: the result must be exactly today's model —
          // deletes must name rows the snapshot held, byte-for-byte
          sync.foreach { case (v, snap) =>
            try {
              val delta = lake.changesSince(v)
                .select("change", "id", "vector", "document").collect()
                .map(r => (r.getString(0), r.getString(1),
                  r.getAs[scala.collection.Seq[Float]]("vector").toSeq,
                  r.getString(3)))
              var replay = snap
              delta.filter(_._1 == "delete").foreach { case (_, id, vec, doc) =>
                assert(replay.get(id).contains((vec, doc)),
                  s"step $step: change feed deleted a row the sync point never held: $id")
                replay -= id
              }
              delta.filter(_._1 == "insert").foreach { case (_, id, vec, doc) =>
                replay += id -> ((vec, doc))
              }
              assert(replay === model,
                s"step $step: replaying the change feed from the sync point diverged")
            } catch {
              // a vacuum in the sequence may legally retire the sync
              // point (dirs swept, or its sidecar rotated out) — loud on
              // use, which is exactly the contract; drop it and re-seal
              case e: IllegalStateException if e.getMessage.contains("vacuum") =>
                sync = None
              case e: IllegalArgumentException if e.getMessage.contains("no sidecar") =>
                sync = None
            }
          }
          "changesSince replay"
      }
      check(s"step $step: $op")
      opsRun += op
    }
    // the interleavings this fuzz exists for must actually have fired —
    // a dispatch change cannot silently drop a family to zero coverage
    assert(opsRun.exists(_.startsWith("sql ")),
      s"no SQL write/DML op fired in 40 steps: $opsRun")
    assert(opsRun.contains("repairFrom replica") ||
      opsRun.contains("clone anti-entropy replica"),
      s"anti-entropy never fired in 40 steps: $opsRun")
    assert(opsRun.contains("reshard"),
      s"the reshard prelude never fired in 40 steps (both pinned seeds " +
        s"are known to draw it — a dispatch change broke coverage): $opsRun")
    assert(opsRun.contains("derive"),
      s"the derived-table side-channel never fired in 40 steps (both " +
        s"pinned seeds are known to draw it): $opsRun")
    // end state: unique ids, audit clean, snapshot history readable
    val audit = lake.validate().head()
    assert(audit.getLong(1) === 0L && audit.getLong(2) === 0L &&
      audit.getLong(5) === 0L, "validate clean after fuzz")
    assert(lake.history().count() >= 1L)
  }

  test("property: random maintenance sequences preserve the exact logical row set") {
    maintenanceFuzz(20260813L)
  }

  test("property: a second seed drives a different interleaving through the same invariants") {
    maintenanceFuzz(777321L)
  }

  test("property: router range 0 <= shard < numShards for arbitrary vectors") {
    forAll(vecGen) { v =>
      val s = lsh.shardOf(v)
      assert(s >= 0 && s < lsh.numShards)
    }
  }

  test("property: routing is a pure function (same vector -> same shard)") {
    forAll(vecGen) { v =>
      assert(lsh.shardOf(v) === lsh.shardOf(v))
      assert(lsh.shardOf(v) === Lsh(dim, 4).shardOf(v))
    }
  }

  test("property: |topK(k)| <= k and every hit has the store's dimension") {
    val lake = Lake(spark, LakeConfig(
      s"${Files.createTempDirectory("graft_prop")}/lake", dim = dim, numHashes = 4))
    val rng = new scala.util.Random(3)
    lake.ingest(Seq.fill(30)((Seq.fill(dim)(rng.nextGaussian().toFloat), "d"))
      .toDF("vector", "document"))
    forAll(vecGen, Gen.chooseNum(1, 10)) { (q, k) =>
      val rows = lake.topKExact(q, k).collect()
      assert(rows.length <= k)
      rows.foreach(r =>
        assert(r.getAs[scala.collection.Seq[Float]]("vector").length === dim))
    }
  }

  test("property: empty store returns no results for any query") {
    val lake = Lake(spark, LakeConfig(
      s"${Files.createTempDirectory("graft_prop")}/lake", dim = dim, numHashes = 4))
    forAll(vecGen, Gen.chooseNum(1, 10)) { (q, k) =>
      assert(lake.topK(q, k).count() === 0L)
    }
  }

  /** The routed-batch contract as a property: for ANY query set and k,
    * every qid's rows in [[Lake.topKBatchRouted]] equal the single-probe
    * [[Lake.topK]] answer — including qids whose routed shard is empty
    * (absent on both sides). One batch job checks many random queries
    * per iteration, so the property covers empty shards, ties, and
    * shard-boundary queries as they arise. */
  test("property: topKBatchRouted(qs, k) == per-query topK(q, k) for random query sets") {
    val lake = Lake(spark, LakeConfig(
      s"${Files.createTempDirectory("graft_prop")}/lake", dim = dim, numHashes = 4))
    val rng = new scala.util.Random(11)
    lake.ingest((0 until 60).map(i =>
      (s"p$i", Seq.fill(dim)(rng.nextGaussian().toFloat), "d"))
      .toDF("id", "vector", "document"))
    forAll(Gen.zip(Gen.listOfN(5, vecGen), Gen.chooseNum(1, 6)), 8) { case (qs, k) =>
      val queries = qs.zipWithIndex.map { case (q, i) => (i.toLong, q: Seq[Double]) }
      val batch = lake.topKBatchRouted(queries, k).collect()
        .groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq)
        .toMap
      queries.foreach { case (qid, q) =>
        val single = lake.topK(q, k).select("id", "dist").collect()
          .map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(batch.getOrElse(qid, Nil) === single, s"qid $qid k $k")
      }
    }
  }
}
