package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.sql.{Date, Timestamp}

class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def eng(dir: String, models: Seq[Model]) = new Engine(
    spark, dir,
    sources = Map("raw_orders" -> Seq(
      (1L, "A", 10.0, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "B", 20.0, Timestamp.valueOf("2024-01-02 00:00:00")),
      (3L, "A", 30.0, Timestamp.valueOf("2024-01-03 00:00:00"))
    ).toDF("id", "status", "amount", "ingested_at")),
    models = models)

  test("topo order respects deps and rejects cycles/unknown refs") {
    def m(name: String, deps: String*) =
      Model(name, deps, Materialization.View)((_, r) => deps.map(r).reduceOption(_ union _).getOrElse(spark.range(1).toDF))
    val dir = tmpDir("eng")
    val order = eng(dir, Seq(m("c", "b"), m("b", "a"), m("a"), m("d", "a"))).topoOrder
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("c"))
    assert(order.indexOf("a") < order.indexOf("d"))
    intercept[IllegalArgumentException] {
      eng(dir, Seq(m("x", "y"), m("y", "x"))).topoOrder
    }
    intercept[IllegalArgumentException] {
      eng(dir, Seq(m("x", "nope"))).topoOrder
    }
  }

  test("table + view materialization, checks gate downstream") {
    val dir = tmpDir("eng")
    val staged = Model("staged", Seq("raw_orders"), Materialization.Table,
      checks = Seq(Checks.notNull("id"), Checks.unique("id")))(
      (_, r) => r("raw_orders"))
    val agg = Model("agg", Seq("staged"), Materialization.View)(
      (_, r) => r("staged").groupBy($"status").agg(sum($"amount").as("total")))
    val rpt = eng(dir, Seq(staged, agg)).build()
    assert(rpt.ok, rpt.results.mkString("; "))
    assert(rpt("staged").rows == 3)
    // views are lazy: the build must NOT execute their plan for a count
    assert(rpt("agg").rows == -1)

    // failing check blocks downstream
    val badStaged = Model("staged", Seq("raw_orders"), Materialization.Table,
      checks = Seq(Checks.acceptedValues("status", Seq("A"))))((_, r) => r("raw_orders"))
    val rpt2 = eng(tmpDir("eng"), Seq(badStaged, agg)).build()
    assert(rpt2("staged").status == "test_failed")
    assert(rpt2("staged").failedChecks == Seq("accepted_values(status)"))
    assert(rpt2("agg").status == "skipped_upstream")
  }

  test("incremental append: only rows past the high-water mark land") {
    val dir = tmpDir("eng")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at"))(
      (_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build()("log").rows == 1)
    // second batch re-sends row 1 (same watermark — must NOT duplicate) + adds row 2;
    // report shows rows APPENDED (dbt's rows-affected), target holds both
    batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2.0)).toDF("id", "ingested_at", "v")
    assert(e.build()("log").rows == 1)
    assert(spark.read.parquet(s"$dir/log").count() == 2)
    // idempotent re-run appends nothing
    assert(e.build()("log").rows == 0)
    assert(spark.read.parquet(s"$dir/log").count() == 2)
  }

  test("full refresh (dbt --full-refresh): incremental state ignored, history corrected; snapshots exempt") {
    val dir = tmpDir("engfr")
    // an upstream whose HISTORY changes under the watermark: normal
    // incremental builds can never correct row 1, a full refresh must
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at"))(
      (_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build()("log").rows == 1)
    // row 1 is RESTATED at the same watermark; incremental build must
    // not see it (classic silent-staleness), full refresh must
    batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 99.0))
      .toDF("id", "ingested_at", "v")
    assert(e.build()("log").rows == 0)
    assert(spark.read.parquet(s"$dir/log").select(sum($"v")).first().getDouble(0) == 1.0)
    assert(e.build(fullRefresh = true)("log").rows == 1)
    assert(spark.read.parquet(s"$dir/log").select(sum($"v")).first().getDouble(0) == 99.0)
    // back to normal incremental behavior afterwards
    batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 99.0),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2.0)).toDF("id", "ingested_at", "v")
    assert(e.build()("log").rows == 1)
    assert(spark.read.parquet(s"$dir/log").count() == 2)

    // snapshots keep history under fullRefresh (dbt exempts them)
    val snapDir = tmpDir("engfrsnap")
    var cur = Seq((1L, "a")).toDF("id", "status")
    val snap = Model("snap", Seq(), Materialization.Scd2Snapshot("id", Seq("status")))(
      (_, _) => cur)
    val se = new Engine(spark, snapDir, Map.empty, Seq(snap))
    assert(se.build(Timestamp.valueOf("2024-01-01 00:00:00")).ok)
    cur = Seq((1L, "b")).toDF("id", "status")
    assert(se.build(Timestamp.valueOf("2024-02-01 00:00:00"), fullRefresh = true).ok)
    // both versions present: the closed 'a' row survived the full refresh
    val versions = se.ref("snap").select($"status").as[String].collect().toSet
    assert(versions == Set("a", "b"), versions.toString)
  }

  test("torn write (no _SUCCESS) forces rebuild, not append-to-corrupt") {
    val dir = tmpDir("eng")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at"))(
      (_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build()("log").rows == 1)
    // simulate a crashed write: the committed marker is gone and an
    // in-flight staging dir is left behind (FileOutputCommitter shape)
    val root = new java.io.File(s"$dir/log")
    assert(new java.io.File(root, "_SUCCESS").delete())
    val staging = new java.io.File(root, "_temporary/0")
    assert(staging.mkdirs())
    java.nio.file.Files.write(
      staging.toPath.resolve("part-00000-attempt"), Array[Byte](1, 2, 3))
    // next build must take the full-rebuild branch: target ends up with
    // exactly the fresh batch, staging debris gone
    batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2.0)).toDF("id", "ingested_at", "v")
    assert(e.build()("log").rows == 2)
    assert(spark.read.parquet(s"$dir/log").count() == 2)
    assert(!new java.io.File(root, "_temporary").exists())
    // and a directory holding no data file at all (marker debris only)
    // is likewise not materialized
    val dir2 = tmpDir("eng")
    val root2 = new java.io.File(s"$dir2/log")
    assert(new java.io.File(root2, "junk").mkdirs())
    val e2 = new Engine(spark, dir2, Map.empty, Seq(m))
    assert(e2.build()("log").rows == 2)
  }

  test("crashed dynamic-partition-overwrite staging reads as torn") {
    // dynamic partition overwrite stages under `.spark-staging-<jobId>`
    // at the target root, NOT `_temporary`; part files inside it are
    // UNCOMMITTED and must neither count as data nor mask the tear
    val dir = tmpDir("eng")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at"))(
      (_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build()("log").rows == 1)
    val root = new java.io.File(s"$dir/log")
    assert(new java.io.File(root, "_SUCCESS").delete())
    val staging = new java.io.File(root, ".spark-staging-8d3e/month=2024-01-01")
    assert(staging.mkdirs())
    java.nio.file.Files.write(
      staging.toPath.resolve("part-00000-c000.parquet"), Array[Byte](1, 2, 3))
    // target is torn → next build takes the full-rebuild branch
    batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2.0)).toDF("id", "ingested_at", "v")
    assert(e.build()("log").rows == 2)
    assert(spark.read.parquet(s"$dir/log").count() == 2)
  }

  test("compact heals a torn swap: .old as the only generation is recovered, not destroyed") {
    val dir = tmpDir("engtorn")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), "b"))
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    // simulate a crash BETWEEN compact's rename-aside and
    // rename-into-place: the model dir survives only as .old
    val model = new java.io.File(s"$dir/log")
    assert(model.renameTo(new java.io.File(s"$dir/log.old")))
    // the next compaction recovers the generation before reading it —
    // full content intact, debt reset, .old gone
    assert(e.compact("log") == 2)
    assert(spark.read.parquet(s"$dir/log").count() == 2)
    assert(!new java.io.File(s"$dir/log.old").exists)
    // and the incremental frontier survived recovery: same source
    // appends nothing
    assert(e.build()("log").rows == 0)
  }

  test("scd2: a rerun after a crash between closed-append and open-swap does not duplicate closed history") {
    // the batch's two commits (append to closed/, swap open/) are
    // bracketed by a .closing marker; a rerun that finds the marker
    // anti-joins its newly-closed rows against closed/ on the version
    // identity (key, dbt_valid_from), so the torn batch's already-
    // appended closures are not appended twice
    val dir = tmpDir("engscd2c")
    var cur = Seq((1L, "a"), (2L, "a")).toDF("id", "status")
    val m = Model("snap", Seq(), Materialization.Scd2Snapshot("id", Seq("status")))(
      (_, _) => cur)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build(Timestamp.valueOf("2024-01-01 00:00:00")).ok)
    // simulate the torn batch: source changed, the closed append
    // committed, the open swap did NOT (open/ still pre-batch), the
    // marker is still on disk
    cur = Seq((1L, "b"), (2L, "a")).toDF("id", "status")
    val prior = spark.read.parquet(s"$dir/snap/open")
    val (_, torn) = Snapshot.mergeDelta(spark, Some(prior), cur,
      "id", Seq("status"), Timestamp.valueOf("2024-02-01 00:00:00"))
    torn.write.mode("append").parquet(s"$dir/snap/closed")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/snap/.closing"), Array.emptyByteArray)
    // the rerun (same changed source, later batch ts) must dedup
    assert(e.build(Timestamp.valueOf("2024-03-01 00:00:00")).ok)
    val closed = spark.read.parquet(s"$dir/snap/closed")
    assert(closed.count() == 1, "closed history duplicated after torn-batch rerun")
    assert(closed.filter($"id" === 1L && $"status" === "a").count() == 1)
    // the closure carries the RERUN's ValidTo (served reality: the torn
    // batch's swap never committed, so reads kept serving 'a' until the
    // rerun) — keeping the torn ValidTo would bake a validity hole
    // [2024-02-01, 2024-03-01) into full history
    assert(closed.select(col(Snapshot.ValidTo)).as[Timestamp].head()
      == Timestamp.valueOf("2024-03-01 00:00:00"),
      "stale torn-batch ValidTo survived recovery")
    // the open slice reflects the batch, and the marker is gone
    val open = spark.read.parquet(s"$dir/snap/open")
      .select($"id", $"status").as[(Long, String)].collect().toMap
    assert(open == Map(1L -> "b", 2L -> "a"))
    assert(!new java.io.File(s"$dir/snap/.closing").exists)
    // and a healthy follow-up batch appends exactly its own closures
    cur = Seq((1L, "b"), (2L, "b")).toDF("id", "status")
    assert(e.build(Timestamp.valueOf("2024-04-01 00:00:00")).ok)
    assert(spark.read.parquet(s"$dir/snap/closed").count() == 2)
  }

  test("scd2: marker recovery reconciles a closure the rerun no longer derives (input changed)") {
    // the r19 residual edge: closed append committed, open swap didn't,
    // and the INPUT changed between crash and rerun so the rerun keeps
    // the torn-closed version OPEN — without reconciliation closed/
    // retains a ValidTo'd row whose (key, ValidFrom) twin is still open,
    // a contradictory full-history view nothing downstream can repair
    val dir = tmpDir("engscd2r")
    var cur = Seq((1L, "a"), (2L, "a")).toDF("id", "status")
    val m = Model("snap", Seq(), Materialization.Scd2Snapshot("id", Seq("status")))(
      (_, _) => cur)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build(Timestamp.valueOf("2024-01-01 00:00:00")).ok)
    // torn batch against a TRANSIENT source state (1 -> "b")
    cur = Seq((1L, "b"), (2L, "a")).toDF("id", "status")
    val prior = spark.read.parquet(s"$dir/snap/open")
    val (_, torn) = Snapshot.mergeDelta(spark, Some(prior), cur,
      "id", Seq("status"), Timestamp.valueOf("2024-02-01 00:00:00"))
    torn.write.mode("append").parquet(s"$dir/snap/closed")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/snap/.closing"), Array.emptyByteArray)
    // the source REVERTS before the rerun: the closure is underivable
    cur = Seq((1L, "a"), (2L, "a")).toDF("id", "status")
    assert(e.build(Timestamp.valueOf("2024-03-01 00:00:00")).ok)
    // the contradictory closure is GONE, the version stays open with
    // its original validity, and the marker is cleared
    assert(spark.read.parquet(s"$dir/snap/closed").count() == 0,
      "stale closure survived marker recovery")
    val open = spark.read.parquet(s"$dir/snap/open")
    assert(open.select($"id", $"status").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "a"))
    assert(open.filter($"id" === 1L)
      .select(col(Snapshot.ValidFrom)).as[Timestamp].head()
      == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(!new java.io.File(s"$dir/snap/.closing").exists)
  }

  test("a zero-row FIRST build of a partitioned incremental model does not brick the target") {
    // an empty partitioned write commits _SUCCESS with no data file —
    // exists() must treat that as NOT materialized, or every later
    // build throws on schema inference ("unable to infer schema")
    val dir = tmpDir("engzero")
    var batch = Seq.empty[(Long, Timestamp, String)]
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok) // empty source: commits a marker, zero rows
    assert(e.build().ok) // must NOT take the incremental branch and throw
    batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
    assert(e.build()("log").rows == 1) // data arrives: bootstrap succeeds
    assert(spark.read.parquet(s"$dir/log").count() == 1)
    // and subsequent builds are properly incremental again
    assert(e.build()("log").rows == 0)
  }

  test("a unit test referencing an unknown model fails loudly at construction") {
    val dir = tmpDir("engutv")
    val m = Model("tgt", Seq(), Materialization.Table)((_, _) =>
      Seq((1L, "a")).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      new Engine(spark, dir, Map.empty, Seq(m),
        unitTests = Seq(UnitTest("ut_typo", "tgt_typo", Map.empty,
          Seq((1L, "a")).toDF("id", "v"))))
    }
    assert(ex.getMessage.contains("tgt_typo"))
  }

  test("compact: content-identical rewrite, 1 file/partition, timestamp frontier survives deletion") {
    val dir = tmpDir("engcmp")
    // three builds into a hive-partitioned incremental model → three
    // files accumulate in partition k=a (the small-files shape)
    var batch = Seq.empty[(Long, Timestamp, String)]
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    def send(rows: (Long, String, String)*): Unit = {
      batch = batch ++ rows.map { case (id, ts, k) =>
        (id, Timestamp.valueOf(ts), k)
      }
      assert(e.build().ok)
    }
    send((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-01 00:00:00", "b"))
    send((3L, "2024-01-02 00:00:00", "a"))
    send((4L, "2024-01-03 00:00:00", "a"))
    def files(k: String): Int = new java.io.File(s"$dir/log/k=$k")
      .listFiles.count(_.getName.startsWith("part-"))
    assert(files("a") == 3, files("a"))

    // plain compaction: same rows, one file per partition value
    val before = spark.read.parquet(s"$dir/log")
      .as[(Long, Timestamp, String)].collect().toSet
    assert(e.compact("log") == 4)
    assert(files("a") == 1 && files("b") == 1)
    assert(spark.read.parquet(s"$dir/log")
      .as[(Long, Timestamp, String)].collect().toSet == before)

    // tombstone the TIMESTAMP frontier (row 4): the mark must survive
    // as a marker row, so re-sending the same batch resurrects nothing.
    // Tombstones without an explicit keyCol are an ERROR on a
    // time-typed watermark (one value could take every row sharing it)
    // — the delete-by-watermark-value semantics must be opted into.
    val noKey = intercept[IllegalArgumentException](e.compact("log",
      Some(Seq(Timestamp.valueOf("2024-01-03 00:00:00"))
        .toDF("ingested_at"))))
    assert(noKey.getMessage.contains("explicit keyCol"), noKey.getMessage)
    assert(e.compact("log",
      Some(Seq(Timestamp.valueOf("2024-01-03 00:00:00"))
        .toDF("ingested_at")), keyCol = Some("ingested_at")) == 3)
    val post = spark.read.parquet(s"$dir/log")
    assert(post.filter($"k".isNotNull).count() == 3)
    assert(post.agg(max($"ingested_at")).first().getTimestamp(0)
      == Timestamp.valueOf("2024-01-03 00:00:00"))
    assert(e.build()("log").rows == 0) // same source: nothing re-appends
    // new data past the restated mark still lands delta-only
    send((5L, "2024-01-04 00:00:00", "b"))
    assert(spark.read.parquet(s"$dir/log")
      .filter($"k".isNotNull).count() == 4)
  }

  test("compact: keyed tombstones don't over-delete shared watermarks; repeated compactions fold markers") {
    val dir = tmpDir("engcmpk")
    var batch = Seq.empty[(Long, Timestamp, String)]
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    def send(rows: (Long, String, String)*): Unit = {
      batch = batch ++ rows.map { case (id, ts, k) =>
        (id, Timestamp.valueOf(ts), k)
      }
      assert(e.build().ok)
    }
    // rows 1 and 2 SHARE the watermark timestamp; row 4 holds the frontier
    send((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-01 00:00:00", "b"))
    send((3L, "2024-01-02 00:00:00", "a"), (4L, "2024-01-03 00:00:00", "a"))

    // keyed tombstone on the unique id: deletes ONLY row 1, not row 2
    // (a watermark-keyed tombstone would silently take both) — and the
    // count is the surviving data rows
    assert(e.compact("log", Some(Seq(1L).toDF("id")), keyCol = Some("id")) == 3)
    val afterFirst = spark.read.parquet(s"$dir/log")
    assert(afterFirst.filter($"id" === 2L).count() == 1)
    assert(afterFirst.filter($"id" === 1L).count() == 0)

    // delete the frontier row (id=4): its mark is restated as a marker
    assert(e.compact("log", Some(Seq(4L).toDF("id")), keyCol = Some("id")) == 2)
    def markers() = spark.read.parquet(s"$dir/log").filter($"id".isNull)
    assert(markers().count() == 1)
    assert(markers().agg(max($"ingested_at")).first().getTimestamp(0)
      == Timestamp.valueOf("2024-01-03 00:00:00"))

    // a FURTHER compaction folds the prior marker into the new one
    // (still exactly one, still carrying the frontier) and keeps
    // excluding markers from the count
    assert(e.compact("log", Some(Seq(3L).toDF("id")), keyCol = Some("id")) == 1)
    assert(markers().count() == 1)
    assert(spark.read.parquet(s"$dir/log")
      .agg(max($"ingested_at")).first().getTimestamp(0)
      == Timestamp.valueOf("2024-01-03 00:00:00"))
    // the restated frontier still gates: re-sending history appends nothing
    assert(e.build()("log").rows == 0)
  }

  test("on_schema_change=AppendNewColumns: target evolves, history reads null, compaction preserves") {
    val dir = tmpDir("engevo")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at",
      onSchemaChange = Materialization.SchemaChange.AppendNewColumns))((_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    // batch 2 carries a NEW column → schema evolves, history reads null
    batch = Seq((2L, Timestamp.valueOf("2024-01-02 00:00:00"), "b", 7.5))
      .toDF("id", "ingested_at", "v", "score")
    assert(e.build()("log").rows == 1)
    val out = e.ref("log")
    assert(out.columns.toSet == Set("id", "ingested_at", "v", "score"))
    assert(out.filter($"id" === 1L).select($"score").first().isNullAt(0))
    assert(out.filter($"id" === 2L).select($"score").first().getDouble(0) == 7.5)
    // batch 3 MISSING a stored column → appended as null, nothing lost
    batch = Seq((3L, Timestamp.valueOf("2024-01-03 00:00:00"), 9.0))
      .toDF("id", "ingested_at", "score")
    assert(e.build()("log").rows == 1)
    assert(e.ref("log").filter($"id" === 3L).select($"v").first().isNullAt(0))
    // compaction (mergeSchema read) rewrites WITHOUT dropping evolved
    // columns or their values
    assert(e.compact("log") == 3)
    val post = e.ref("log")
    assert(post.columns.toSet == Set("id", "ingested_at", "v", "score"))
    assert(post.filter($"id" === 2L).select($"score").first().getDouble(0) == 7.5)
    assert(post.filter($"id" === 1L).select($"v").first().getString(0) == "a")
  }

  test("on_schema_change=Ignore (default): schema frozen at first build") {
    val dir = tmpDir("engfrz")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at"))((_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    // extra batch column is silently dropped (dbt's ignore)
    batch = Seq((2L, Timestamp.valueOf("2024-01-02 00:00:00"), "b", 7.5))
      .toDF("id", "ingested_at", "v", "junk")
    assert(e.build()("log").rows == 1)
    assert(e.ref("log").columns.toSet == Set("id", "ingested_at", "v"))
    assert(e.ref("log").filter($"id" === 2L).select($"v").first().getString(0) == "b")
    // missing stored column appends as null, schema unchanged
    batch = Seq((3L, Timestamp.valueOf("2024-01-03 00:00:00")))
      .toDF("id", "ingested_at")
    assert(e.build()("log").rows == 1)
    assert(e.ref("log").columns.toSet == Set("id", "ingested_at", "v"))
    assert(e.ref("log").filter($"id" === 3L).select($"v").first().isNullAt(0))
  }

  test("on_schema_change=Fail: a drifted batch schema fails the node") {
    val dir = tmpDir("engsfail")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      .toDF("id", "ingested_at", "v")
    val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at",
      onSchemaChange = Materialization.SchemaChange.Fail))((_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    batch = Seq((2L, Timestamp.valueOf("2024-01-02 00:00:00"), "b", 7.5))
      .toDF("id", "ingested_at", "v", "extra")
    val r = e.build()
    assert(!r.ok)
    assert(r("log").status == "error")
    assert(r("log").error.exists(_.contains("on_schema_change")))
    // identical schema still builds fine
    batch = Seq((3L, Timestamp.valueOf("2024-01-03 00:00:00"), "c"))
      .toDF("id", "ingested_at", "v")
    assert(e.build().ok)
  }

  test("type drift of an existing column fails under every schema policy") {
    // same column SET, drifted type — the fast path must not wave it
    // through, and neither Ignore nor AppendNewColumns may absorb it:
    // appending would produce mixed-type parquet footers that
    // single-footer reads surface nondeterministically
    for ((pol, tag) <- Seq(
        (Materialization.SchemaChange.Ignore, "ign"),
        (Materialization.SchemaChange.AppendNewColumns, "anc"),
        (Materialization.SchemaChange.Fail, "fl"))) {
      val dir = tmpDir(s"engtd$tag")
      var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
        .toDF("id", "ingested_at", "v")
      val m = Model("log", Seq(), Materialization.IncrementalAppend("ingested_at",
        onSchemaChange = pol))((_, _) => batch)
      val e = new Engine(spark, dir, Map.empty, Seq(m))
      assert(e.build().ok)
      batch = Seq((2L, Timestamp.valueOf("2024-01-02 00:00:00"), 7.5))
        .toDF("id", "ingested_at", "v")
      val r = e.build()
      assert(!r.ok && r("log").error.exists(_.contains("drifted")), s"policy $tag")
      // target untouched: stored rows still read with the original type
      assert(e.ref("log").count() == 1)
      assert(e.ref("log").select($"v").first().getString(0) == "a")
    }
  }

  // ---- MergeUpsert (dbt incremental_strategy='merge' + unique_key) ----

  private def mergeModel(batch: () => org.apache.spark.sql.DataFrame,
      buckets: Int = 8,
      policy: Materialization.SchemaChange = Materialization.SchemaChange.Ignore) =
    Model("tgt", Seq(), Materialization.MergeUpsert("id", buckets, policy))(
      (_, _) => batch())

  test("merge upsert: matched keys replaced, unmatched inserted, bucket col hidden") {
    val dir = tmpDir("engmrg")
    var batch = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "n")
    val e = new Engine(spark, dir, Map.empty,
      Seq(mergeModel(() => batch)))
    assert(e.build().ok)
    // update key 2, insert key 4; keys 1/3 untouched
    batch = Seq((2L, "B2", 22), (4L, "d", 40)).toDF("id", "v", "n")
    assert(e.build().ok)
    val out = e.ref("tgt")
    assert(!out.columns.contains(Materialization.MergeUpsert.BucketCol))
    assert(out.count() == 4)
    val m = out.collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(m(1L) == ("a", 10) && m(3L) == ("c", 30)) // survivors verbatim
    assert(m(2L) == ("B2", 22)) // replaced, not duplicated
    assert(m(4L) == ("d", 40)) // inserted
  }

  test("merge upsert rewrites only the buckets containing delta keys") {
    val dir = tmpDir("engmrgb")
    // enough keys that every bucket is populated
    var batch = spark.range(0, 256).toDF("id").withColumn("v", col("id") * 2)
    val e = new Engine(spark, dir, Map.empty, Seq(mergeModel(() => batch)))
    assert(e.build().ok)
    def filesByBucket: Map[String, Set[String]] =
      new java.io.File(s"$dir/tgt").listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("_graft_bucket="))
        .map(d => d.getName -> d.listFiles.map(f =>
          s"${f.getName}:${f.lastModified}:${f.length}").toSet).toMap
    val before = filesByBucket
    // a one-key delta touches exactly one bucket
    batch = Seq((7L, 700L)).toDF("id", "v")
    assert(e.build().ok)
    val after = filesByBucket
    val bId = spark.range(1).select(
      pmod(hash(lit(7L)), lit(8)).cast("int")).first().getInt(0)
    assert(after(s"_graft_bucket=$bId") != before(s"_graft_bucket=$bId"))
    before.keys.filterNot(_ == s"_graft_bucket=$bId").foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    assert(e.ref("tgt").filter(col("id") === 7L).select(col("v"))
      .first().getLong(0) == 700L)
    assert(e.ref("tgt").count() == 256)
  }

  test("merge upsert: duplicate delta keys fail incrementally; null keys always insert") {
    val dir = tmpDir("engmrgd")
    var batch = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "x"))
      .toDF("id", "v")
    val e = new Engine(spark, dir, Map.empty, Seq(mergeModel(() => batch)))
    assert(e.build().ok)
    // ANSI: null never matches — a second null-key row inserts beside the first
    batch = Seq((Option.empty[Long], "y")).toDF("id", "v")
    assert(e.build().ok)
    assert(e.ref("tgt").filter(col("id").isNull).count() == 2)
    assert(e.ref("tgt").count() == 4)
    // duplicate non-null key in one delta = multiple source rows matched
    batch = Seq((Some(1L), "p"), (Some(1L), "q")).toDF("id", "v")
    val r = e.build()
    assert(!r.ok && r("tgt").error.exists(_.contains("duplicate")))
    // target untouched by the failed merge
    assert(e.ref("tgt").filter(col("id") === 1L).select(col("v"))
      .first().getString(0) == "a")
  }

  test("merge model's {{ this }} keeps the bucket column; ref() hides it") {
    // layout-aware incremental builds (merge-maintained aggregate
    // state) prune their prior-side read on the bucket column — the
    // model's own prior view must expose it while consumers never see it
    val dir = tmpDir("engmrgt")
    var sawBucket: Option[Boolean] = None
    var batch = Seq((1L, "a")).toDF("id", "v")
    val m = Model.incremental("tgt", Seq(),
      Materialization.MergeUpsert("id", 4)) { (_, _, prior) =>
      sawBucket = prior.map(_.columns.contains(
        Materialization.MergeUpsert.BucketCol))
      batch
    }
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok && sawBucket.isEmpty)
    batch = Seq((2L, "b")).toDF("id", "v")
    assert(e.build().ok && sawBucket.contains(true))
    assert(!e.ref("tgt").columns.contains(Materialization.MergeUpsert.BucketCol))
  }

  test("merge upsert full refresh is create-table-as; AppendNewColumns evolves touched buckets only") {
    val dir = tmpDir("engmrgf")
    var batch: org.apache.spark.sql.DataFrame =
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val e = new Engine(spark, dir, Map.empty, Seq(mergeModel(() => batch,
      policy = Materialization.SchemaChange.AppendNewColumns)))
    assert(e.build().ok)
    // evolved delta: new column rides the merge; untouched rows read null
    batch = Seq((2L, "B2", 9L)).toDF("id", "v", "extra")
    assert(e.build().ok)
    val out = e.ref("tgt")
    assert(out.columns.toSet == Set("id", "v", "extra"))
    assert(out.filter(col("id") === 1L).select(col("extra")).first().isNullAt(0))
    assert(out.filter(col("id") === 2L).select(col("extra")).first().getLong(0) == 9L)
    // full refresh drops keys absent from the rebuild (stale key 1 gone)
    batch = Seq((2L, "only", 1L)).toDF("id", "v", "extra")
    assert(e.build(fullRefresh = true).ok)
    assert(e.ref("tgt").count() == 1)
  }

  test("merge_update_columns: matched rows keep stored values outside the listed columns") {
    val dir = tmpDir("engmrgu")
    var batch: org.apache.spark.sql.DataFrame =
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n")
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.MergeUpsert("id", 4,
        updateColumns = Seq("n")))((_, _) => batch)))
    assert(e.build().ok)
    // delta carries only (key, updated column) + an insert-only key;
    // matched key 1's v must survive from the stored row, while the
    // NEW key 3 inserts whole (v null — the delta never supplied one)
    batch = Seq((1L, 100), (3L, 300)).toDF("id", "n")
    assert(e.build().ok)
    val got = e.ref("tgt").select($"id", $"v", $"n")
      .collect().map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getInt(2)))).toMap
    assert(got == Map(1L -> ((Some("a"), 100)), 2L -> ((Some("b"), 20)),
      3L -> ((None, 300))))
  }

  test("merge upsert commit is torn-swap healable: buckets swap via DirSwap, .old states recover") {
    val dir = tmpDir("engmrgh")
    var batch = spark.range(0, 64).toDF("id").withColumn("v", col("id") * 2)
    val e = new Engine(spark, dir, Map.empty, Seq(mergeModel(() => batch)))
    assert(e.build().ok)
    batch = Seq((7L, 700L)).toDF("id", "v")
    assert(e.build().ok)
    // a clean commit leaves no swap debris: no bucket .old, no .merge stage
    val root = new java.io.File(s"$dir/tgt")
    assert(!root.listFiles.exists(_.getName.endsWith(".old")))
    assert(!new java.io.File(s"$dir/tgt.merge").exists)
    val full = e.ref("tgt").count()
    assert(full == 64)
    // torn state A (crash between rename-aside and rename-into-place):
    // bucket dir missing, .old holds the only generation → a read heals
    val bId = spark.range(1).select(
      pmod(hash(lit(7L)), lit(8)).cast("int")).first().getInt(0)
    val b = new java.io.File(s"$dir/tgt/_graft_bucket=$bId")
    val old = new java.io.File(s"$dir/tgt/_graft_bucket=$bId.old")
    assert(b.renameTo(old))
    assert(e.ref("tgt").count() == full) // healed: all rows back
    assert(b.exists && !old.exists)
    assert(e.ref("tgt").filter($"id" === 7L).select($"v")
      .first().getLong(0) == 700L)
    // torn state B (crash after commit, before .old cleanup): obsolete
    // .old beside a committed bucket → a read deletes it (a lingering
    // `bucket=N.old` dir would poison partition-type discovery)
    java.nio.file.Files.createDirectory(old.toPath)
    java.nio.file.Files.write(old.toPath.resolve("junk.parquet"),
      Array[Byte](0))
    assert(e.ref("tgt").count() == full)
    assert(!old.exists)
    // and the next incremental build over a torn state merges correctly
    assert(b.renameTo(old))
    batch = Seq((7L, 7000L)).toDF("id", "v")
    assert(e.build().ok)
    assert(e.ref("tgt").count() == full)
    assert(e.ref("tgt").filter($"id" === 7L).select($"v")
      .first().getLong(0) == 7000L)
    // torn state C (crash before the staging-cleanup finally): an
    // orphaned .merge dir left on disk → the next read heals it away
    val stage = new java.io.File(s"$dir/tgt.merge")
    java.nio.file.Files.createDirectory(stage.toPath)
    java.nio.file.Files.write(stage.toPath.resolve("junk.parquet"),
      Array[Byte](0))
    assert(e.ref("tgt").count() == full)
    assert(!stage.exists)
  }

  test("unit tests: fixtures drive the build logic; a failing one gates the node pre-build") {
    val dir = tmpDir("engut")
    // model doubles each input value — the unit test exercises LOGIC
    // against fixture rows, never the real source
    val models = Seq(
      Model("dbl", Seq("src"), Materialization.Table)((_, r) =>
        r("src").select($"id", ($"n" * 2).as("n2"))),
      Model("down", Seq("dbl"), Materialization.Table)((_, r) => r("dbl")))
    val fix = Map("src" -> Seq((1L, 10), (2L, 20)).toDF("id", "n"))
    def eng(expect: org.apache.spark.sql.DataFrame) =
      new Engine(spark, dir, Map("src" -> Seq((9L, 9)).toDF("id", "n")),
        models, unitTests = Seq(UnitTest("ut_dbl", "dbl", fix, expect)))
    // green: expected rows match (int fixture vs the model's output type)
    assert(eng(Seq((1L, 20), (2L, 40)).toDF("id", "n2")).build().ok)
    // red: wrong expectation fails the node BEFORE materializing and
    // blocks downstream
    val dir2 = tmpDir("engut2")
    val e2 = new Engine(spark, dir2, Map("src" -> Seq((9L, 9)).toDF("id", "n")),
      models, unitTests = Seq(UnitTest("ut_dbl", "dbl", fix,
        Seq((1L, 21), (2L, 40)).toDF("id", "n2"))))
    val r = e2.build()
    assert(!r.ok)
    assert(r("dbl").status == "unit_test_failed")
    assert(r("dbl").failedChecks.exists(_.startsWith("ut_dbl")))
    assert(r("down").status == "skipped_upstream")
    assert(!new java.io.File(s"$dir2/dbl").exists, "failed unit test must not materialize")
    // partial expect: naming a column subset checks just those columns
    val dir3 = tmpDir("engut3")
    val e3 = new Engine(spark, dir3, Map("src" -> Seq((9L, 9)).toDF("id", "n")),
      models, unitTests = Seq(UnitTest("ut_subset", "dbl", fix,
        Seq(Tuple1(1L), Tuple1(2L)).toDF("id"))))
    assert(e3.build().ok)
    // a ref the build reads without a fixture fails loudly, not silently
    val dir4 = tmpDir("engut4")
    val e4 = new Engine(spark, dir4, Map("src" -> Seq((9L, 9)).toDF("id", "n")),
      models, unitTests = Seq(UnitTest("ut_nofix", "dbl", Map.empty,
        Seq((1L, 20)).toDF("id", "n2"))))
    val r4 = e4.build()
    assert(r4("dbl").status == "unit_test_failed")
    assert(r4("dbl").failedChecks.exists(_.contains("no fixture")))
  }

  test("test history: strict-JSON lines accumulate across builds for checks and unit tests") {
    val dir = tmpDir("enghist")
    var rows = Seq((1L, "a"), (2L, "b"))
    // the model reads its source through ref() so the unit test can pin
    // a FIXED fixture — the unit test stays green while the data check
    // follows the (mutating) real source
    def mk() = new Engine(spark, dir, Map("src" -> rows.toDF("id", "v")), Seq(
      Model("tgt", Seq("src"), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, r) => r("src"))),
      unitTests = Seq(UnitTest("ut_identity", "tgt",
        Map("src" -> Seq((5L, "x")).toDF("id", "v")),
        Seq((5L, "x")).toDF("id", "v"))),
      testHistory = true)
    assert(mk().build().ok)
    rows = Seq((1L, "a"), (1L, "dup"))
    assert(!mk().build().ok) // unique check goes red (unit test stays green)
    rows = Seq((1L, "a"), (2L, "b"))
    assert(mk().build().ok)
    val lines = scala.io.Source.fromFile(s"$dir/_audit/test_history.jsonl")
      .getLines().toSeq
    assert(lines.size == 6, lines.mkString("\n")) // (1 unit + 1 data) x 3 builds
    // strict JSON: every line parses via Spark's JSON reader with a hard schema
    val parsed = spark.read
      .schema("model STRING, check STRING, kind STRING, status STRING, " +
        "violations LONG, wall_ms LONG, batch_ts STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.filter($"_corrupt_record".isNotNull).count() == 0)
    // append order IS build order — assert the trend from the raw lines
    val data = lines.filter(_.contains(""""kind":"data""""))
    assert(data.map(l =>
      """"status":"(\w+)"""".r.findFirstMatchIn(l).get.group(1)) ==
      Seq("pass", "fail", "pass"))
    assert(data.map(l =>
      """"violations":(-?\d+)""".r.findFirstMatchIn(l).get.group(1).toLong) ==
      Seq(0L, 1L, 0L))
    assert(parsed.filter($"kind" === "unit" && $"status" === "pass").count() == 3)
    assert(parsed.select($"model").distinct().collect().map(_.getString(0)).toSeq == Seq("tgt"))
  }

  test("volume anomaly: steady batches pass, a deviant batch volume gates the node") {
    val dir = tmpDir("enganom")
    var n = 100
    def mk() = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        checks = Seq(Checks.volumeAnomaly("tgt", sigma = 3.0, minBuilds = 3)))(
        (s, _) => s.range(n).toDF("id"))),
      testHistory = true)
    // builds 1-3: no baseline yet (fewer than minBuilds priors) — pass
    (1 to 3).foreach(_ => assert(mk().build().ok))
    // build 4: same volume as the baseline — pass (zero-variance, equal)
    assert(mk().build().ok)
    // build 5: 5x the baseline volume — anomaly gates the node
    n = 500
    val r = mk().build()
    assert(!r.ok)
    assert(r("tgt").status == "test_failed" &&
      r("tgt").failedChecks == Seq("volume_anomaly(tgt)"),
      r.results.mkString("; "))
    // build 5's history line must have been amended to test_failed —
    // the SAME deviant volume must gate AGAIN (if the failed build had
    // entered the baseline as "ok", mean/stddev would absorb it and
    // z would drop inside sigma)
    val r6 = mk().build()
    assert(!r6.ok && r6("tgt").status == "test_failed",
      r6.results.mkString("; "))
    val statuses = scala.io.Source.fromFile(s"$dir/_audit/build_history.jsonl")
      .getLines().toSeq.map(l =>
        """"status":"(\w+)"""".r.findFirstMatchIn(l).get.group(1))
    assert(statuses == Seq("ok", "ok", "ok", "ok", "test_failed", "test_failed"),
      statuses.mkString(","))
  }

  test("volume anomaly without testHistory fails loudly, not silently green") {
    val dir = tmpDir("enganom2")
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        checks = Seq(Checks.volumeAnomaly("tgt")))((s, _) => s.range(5).toDF("id"))))
    val r = e.build()
    assert(r("tgt").status == "error" &&
      r("tgt").error.exists(_.contains("testHistory")), r.results.mkString("; "))
  }

  test("seeds: version-controlled CSV materializes as a typed table models can ref") {
    val dir = tmpDir("engseed")
    val csv = java.nio.file.Paths.get(Scratch.dir("graft_seed"))
      .resolve("currency.csv")
    java.nio.file.Files.write(csv,
      "code,rate,active\nUSD,1.0,true\nEUR,1.08,true\nXXX,0,false\n"
        .getBytes("UTF-8"))
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model.seed("seed_currency", csv.toString,
        columnTypes = Map("rate" -> "decimal(10,4)"),
        checks = Seq(Checks.unique("code"))),
      Model("rates", Seq("seed_currency"), Materialization.Table)((_, r) =>
        r("seed_currency").filter(col("active")))))
    val rpt = e.build()
    assert(rpt.ok, rpt.results.mkString("; "))
    val seed = e.ref("seed_currency")
    // column_types pin dialect-sensitive columns; the rest infer
    assert(seed.schema("rate").dataType.typeName == "decimal(10,4)", seed.schema)
    assert(seed.schema("active").dataType.typeName == "boolean")
    assert(seed.count() == 3 && e.ref("rates").count() == 2)
    // no lineage stamping: a seed is declared data, not an ingested feed
    assert(!seed.columns.contains("ingested_at"))
  }

  test("pre/post-hooks run in order inside the node slot; a throwing hook fails it") {
    val dir = tmpDir("enghooks")
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        preHooks = Seq(Hook("audit_pre", (_, _) => { log += "pre"; () })),
        postHooks = Seq(Hook("audit_post", (_, r) => {
          // post-hook sees the freshly materialized target through ref
          log += s"post:${r("tgt").count()}"; ()
        })))((s, _) => { log += "build"; s.range(4).toDF("id") })))
    assert(e.build().ok)
    assert(log.toSeq == Seq("pre", "build", "post:4"), log)
    // a throwing PRE-hook fails the node before materializing and
    // blocks downstream
    val dir2 = tmpDir("enghooks2")
    val e2 = new Engine(spark, dir2, Map.empty, Seq(
      Model("a", Seq(), Materialization.Table,
        preHooks = Seq(Hook("boom", (_, _) =>
          throw new IllegalStateException("nope"))))((s, _) =>
        s.range(1).toDF("id")),
      Model("b", Seq("a"), Materialization.Table)((_, r) => r("a"))))
    val r2 = e2.build()
    assert(r2("a").status == "error" &&
      r2("a").error.exists(m => m.contains("pre_hook 'boom'") && m.contains("nope")),
      r2.results.mkString("; "))
    assert(r2("b").status == "skipped_upstream")
    assert(!new java.io.File(s"$dir2/a").exists, "pre-hook failure must gate the write")
  }

  test("exposures: manifest entries + [+]exposure selection; unknown deps fail loudly") {
    val dir = tmpDir("engexpo")
    def mk() = new Engine(spark, dir, Map.empty, Seq(
      Model("a", Seq(), Materialization.Table)((s, _) => s.range(2).toDF("id")),
      Model("b", Seq("a"), Materialization.Table)((_, r) => r("a")),
      Model("c", Seq(), Materialization.Table)((s, _) => s.range(9).toDF("id"))),
      exposures = Seq(Exposure("finance_dash", Seq("b"),
        owner = "analytics", url = "https://bi/finance")))
    assert(mk().build().ok)
    val man = mk().manifestJson
    assert(man.contains(""""exposures":[{"name":"finance_dash"""") &&
      man.contains(""""depends_on":["b"]"""), man)
    // exposure:name = the dashboard's direct deps; + adds upstream
    val r1 = mk().build(select = Seq("exposure:finance_dash"))
    assert(r1.results.map(_.name) == Seq("b"), r1.results.mkString("; "))
    val r2 = mk().build(select = Seq("+exposure:finance_dash"))
    assert(r2.results.map(_.name).toSet == Set("a", "b"), r2.results.mkString("; "))
    intercept[IllegalArgumentException] {
      new Engine(spark, dir, Map.empty, Seq(
        Model("a", Seq(), Materialization.Table)((s, _) => s.range(1).toDF("id"))),
        exposures = Seq(Exposure("dash", Seq("ghost"))))
    }
  }

  test("selected builds keep the audit/test surface: unit tests gate, history logs") {
    val dir = tmpDir("engselaudit")
    def mk(expectN2: Long) = new Engine(spark, dir, Map.empty, Seq(
      Model("a", Seq(), Materialization.Table)((s, _) => s.range(3).toDF("id")),
      Model("b", Seq("a"), Materialization.Table)((_, r) =>
        r("a").withColumn("n2", col("id") * 2))),
      unitTests = Seq(UnitTest("ut_b", "b",
        Map("a" -> Seq(1L).toDF("id")),
        Seq((1L, expectN2)).toDF("id", "n2"))),
      testHistory = true)
    assert(mk(2L).build().ok)
    // a SELECTED build must still run b's unit test (red expectation
    // fails the node) and append its build_history line when green
    val bad = mk(99L).build(select = Seq("b"))
    assert(bad("b").status == "unit_test_failed", bad.results.mkString("; "))
    assert(mk(2L).build(select = Seq("b")).ok)
    val hist = scala.io.Source.fromFile(s"$dir/_audit/build_history.jsonl")
      .getLines().toSeq.filter(_.contains(""""model":"b""""))
    assert(hist.size == 2, hist.mkString("\n")) // full build + selected build
  }

  test("buildRetry re-executes exactly the failed node and its skipped downstream") {
    val dir = tmpDir("engretry")
    var bRows = Seq((1L, "x"), (1L, "y")) // duplicate id → unique check fails
    def mk() = new Engine(spark, dir, Map.empty, Seq(
      Model("a", Seq(), Materialization.Table)((s, _) => s.range(3).toDF("id")),
      Model("b", Seq("a"), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, _) => bRows.toDF("id", "v")),
      Model("c", Seq("b"), Materialization.Table)((_, r) => r("b"))))
    val r1 = mk().build()
    assert(!r1.ok && r1("a").status == "ok" && r1("b").status == "test_failed" &&
      r1("c").status == "skipped_upstream", r1.results.mkString("; "))
    val aFiles = new java.io.File(s"$dir/a").listFiles.map(f =>
      s"${f.getName}:${f.lastModified}:${f.length}").toSet
    // fixture fixed: retry must run b and c ONLY — a's files stay put
    bRows = Seq((1L, "x"), (2L, "y"))
    val r2 = mk().buildRetry()
    assert(r2.ok, r2.results.mkString("; "))
    assert(r2.results.map(_.name).toSet == Set("b", "c"),
      r2.results.mkString("; "))
    assert(new java.io.File(s"$dir/a").listFiles.map(f =>
      s"${f.getName}:${f.lastModified}:${f.length}").toSet == aFiles,
      "retry rebuilt an already-successful node")
    // everything green: nothing to retry
    assert(mk().buildRetry().results.isEmpty)
  }

  test("state:modified selects changed models (+consumers); unchanged DAG selects nothing") {
    val dir = tmpDir("engstate")
    def mk(bVersion: Int) = new Engine(spark, dir, Map.empty, Seq(
      Model("a", Seq(), Materialization.Table)((s, _) => s.range(3).toDF("id")),
      Model("b", Seq("a"), Materialization.Table, version = bVersion)(
        (_, r) => r("a")),
      Model("c", Seq("b"), Materialization.Table)((_, r) => r("b"))))
    assert(mk(0).build().ok) // manifest baseline
    // unchanged DAG: state:modified+ selects nothing (empty no-op build)
    val r0 = mk(0).build(select = Seq("state:modified+"))
    assert(r0.results.isEmpty, r0.results.mkString("; "))
    // bump b's version: b AND its consumer c build; a untouched
    val aFiles = new java.io.File(s"$dir/a").listFiles.map(f =>
      s"${f.getName}:${f.lastModified}:${f.length}").toSet
    val r1 = mk(1).build(select = Seq("state:modified+"))
    assert(r1.ok && r1.results.map(_.name).toSet == Set("b", "c"),
      r1.results.mkString("; "))
    assert(new java.io.File(s"$dir/a").listFiles.map(f =>
      s"${f.getName}:${f.lastModified}:${f.length}").toSet == aFiles)
    // the selected build re-baselined the manifest: selecting again is a no-op
    assert(mk(1).build(select = Seq("state:modified+")).results.isEmpty)
    // bare state:modified (no +): only the changed node itself
    val r2 = mk(2).build(select = Seq("state:modified"))
    assert(r2.ok && r2.results.map(_.name).toSet == Set("b"),
      r2.results.mkString("; "))
  }

  test("store_failures: sanitization collisions cannot delete a sibling's failures") {
    val dir = tmpDir("engsfc")
    // model "a.b" sanitizes to the same "a_b__" prefix as model "a_b";
    // a prefix-scan cleanup would let a.b's green pass wipe a_b's
    // freshly stored violations — exact-dir cleanup must not
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model("a_b", Seq(), Materialization.Table,
        checks = Seq(Checks.unique("id")))(
        (_, _) => Seq((1L, "x"), (1L, "y")).toDF("id", "v")),
      Model("a.b", Seq(), Materialization.Table,
        checks = Seq(Checks.notNull("id")))(
        (_, _) => Seq((2L, "z")).toDF("id", "v"))),
      storeFailures = true)
    val r = e.build()
    assert(r("a_b").status == "test_failed" && r("a.b").status == "ok",
      r.results.mkString("; "))
    assert(new java.io.File(s"$dir/_test_failures/a_b__unique_id_").exists)
  }

  test("store_failures: a check that turns green clears its stale violation parquet") {
    val dir = tmpDir("engsfg")
    var batch = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
    def mk() = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, _) => batch)),
      storeFailures = true)
    assert(!mk().build().ok)
    val f = new java.io.File(s"$dir/_test_failures/tgt__unique_id_")
    assert(f.exists)
    // fixture fixed: dbt rebuilds the failures table each run, so the
    // now-green check must leave NO stale violations behind
    batch = Seq((1L, "a"), (2L, "c")).toDF("id", "v")
    assert(mk().build().ok)
    assert(!f.exists, "stale _test_failures survived a green check pass")
  }

  test("store_failures: a renamed check's orphaned violation dir is cleaned next build") {
    val dir = tmpDir("engsfr")
    def mk(checks: Seq[Check]) = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table, checks = checks)(
        (_, _) => Seq((1L, "a"), (1L, "b")).toDF("id", "v"))),
      storeFailures = true)
    assert(!mk(Seq(Checks.unique("id"))).build().ok)
    val old = new java.io.File(s"$dir/_test_failures/tgt__unique_id_")
    assert(old.exists)
    // check renamed (unique dropped, a different check declared): the
    // next build must clean the orphaned dir via the manifest's stored
    // check record — its red parquet would misreport current state
    assert(mk(Seq(Checks.notNull("v"))).build().ok)
    assert(!old.exists, "orphaned _test_failures dir survived a check rename")
  }

  test("store_failures: a partial build between rename and rebuild keeps the stored check record") {
    // the manifest rewrite after a partial build must not erase an
    // UNSELECTED model's stored check names: rename tgt's check, build
    // only `other`, then build tgt — the orphaned dir from the old
    // check name must still be discoverable and cleaned
    val dir = tmpDir("engsfp")
    def mk(checks: Seq[Check]) = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table, checks = checks)(
        (_, _) => Seq((1L, "a"), (1L, "b")).toDF("id", "v")),
      Model("other", Seq(), Materialization.Table)(
        (_, _) => Seq((1L, "x")).toDF("id", "v"))),
      storeFailures = true)
    assert(!mk(Seq(Checks.unique("id"))).build().ok)
    val old = new java.io.File(s"$dir/_test_failures/tgt__unique_id_")
    assert(old.exists)
    // check renamed; tgt NOT selected — the rewrite carries the stored
    // "unique_id_" record forward for the non-promoted node
    assert(mk(Seq(Checks.notNull("v"))).build(select = Seq("other")).ok)
    assert(mk(Seq(Checks.notNull("v"))).build().ok)
    assert(!old.exists,
      "orphaned _test_failures dir survived a rename + intervening partial build")
  }

  test("a partial build must not re-baseline a modified-but-unselected model") {
    val dir = tmpDir("engstatep")
    def mk(bVersion: Int) = new Engine(spark, dir, Map.empty, Seq(
      Model("a", Seq(), Materialization.Table)((s, _) => s.range(3).toDF("id")),
      Model("b", Seq(), Materialization.Table, version = bVersion)(
        (s, _) => s.range(2).toDF("id"))))
    assert(mk(0).build().ok) // manifest baseline
    // b is modified but only a is selected: the manifest rewrite must
    // carry b's OLD fingerprint forward, not silently re-baseline it —
    // dbt promotes --state manifests only for nodes that actually ran
    assert(mk(1).build(select = Seq("a")).ok)
    val r = mk(1).build(select = Seq("state:modified"))
    assert(r.ok && r.results.map(_.name) == Seq("b"), r.results.mkString("; "))
    // b built green → genuinely promoted → selecting again is a no-op
    assert(mk(1).build(select = Seq("state:modified")).results.isEmpty)
  }

  test("a failed node keeps its old fingerprint: state:modified re-selects until green") {
    val dir = tmpDir("engstatef")
    var rows = Seq((1L, "x"), (2L, "y"))
    def mk(v: Int) = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table, version = v,
        checks = Seq(Checks.unique("id")))((_, _) => rows.toDF("id", "v"))))
    assert(mk(0).build().ok)
    // bump the version AND break the data: the build fails its check,
    // so the NEW fingerprint must not be promoted
    rows = Seq((1L, "x"), (1L, "y"))
    assert(!mk(1).build().ok)
    rows = Seq((1L, "x"), (2L, "y"))
    val r = mk(1).build(select = Seq("state:modified"))
    assert(r.ok && r.results.map(_.name) == Seq("tgt"), r.results.mkString("; "))
    assert(mk(1).build(select = Seq("state:modified")).results.isEmpty)
  }

  test("a throwing post-hook leaves the committed generation in build_history as error") {
    val dir = tmpDir("enghookhist")
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        postHooks = Seq(Hook("boom", (_, _) =>
          throw new RuntimeException("grant failed"))))(
        (s, _) => s.range(4).toDF("id"))),
      testHistory = true)
    val r = e.build()
    assert(r("tgt").status == "error", r.results.mkString("; "))
    // the table swap happened BEFORE the hook threw: the generation is
    // committed, so the volume trend log must carry it — rewritten to
    // error, never left provisional-ok and never silently absent
    val hist = scala.io.Source.fromFile(s"$dir/_audit/build_history.jsonl")
      .getLines().toSeq
    assert(hist.size == 1 && hist.head.contains(""""status":"error"""") &&
      hist.head.contains(""""rows":4"""), hist.mkString("\n"))
  }

  test("model contract: exact column set + types enforced before any write") {
    val dir = tmpDir("engctr")
    var batch: org.apache.spark.sql.DataFrame =
      Seq((1L, "a")).toDF("id", "v")
    def eng(contract: (String, String)*) = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        contract = contract.toSeq)((_, _) => batch)))
    assert(eng("id" -> "bigint", "v" -> "string").build().ok)
    // type drift
    batch = Seq((1, "a")).toDF("id", "v") // id now int
    val r1 = eng("id" -> "bigint", "v" -> "string").build()
    assert(!r1.ok && r1("tgt").error.exists(_.contains("declared bigint")))
    // undeclared extra column
    batch = Seq((1L, "a", 0.5)).toDF("id", "v", "x")
    val r2 = eng("id" -> "bigint", "v" -> "string").build()
    assert(!r2.ok && r2("tgt").error.exists(_.contains("undeclared")))
    // missing declared column
    batch = Seq(Tuple1(1L)).toDF("id")
    val r3 = eng("id" -> "bigint", "v" -> "string").build()
    assert(!r3.ok && r3("tgt").error.exists(_.contains("missing")))
    // the failed builds never touched the target: first build's row reads
    assert(e_ref(dir).count() == 1)
  }

  private def e_ref(dir: String) = spark.read.parquet(s"$dir/tgt")

  test("store_failures persists violating rows; off by default") {
    val dir = tmpDir("engsf")
    def mk(store: Boolean) = new Engine(spark, dir, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, _) =>
        Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"))),
      storeFailures = store)
    val r = mk(store = true).build()
    assert(!r.ok && r("tgt").failedChecks.nonEmpty)
    val stored = spark.read.parquet(s"$dir/_test_failures/tgt__unique_id_")
    assert(stored.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L))) // the duplicated key and its count
    // default: no persistence
    val dir2 = tmpDir("engsf2")
    val e2 = new Engine(spark, dir2, Map.empty, Seq(
      Model("tgt", Seq(), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, _) =>
        Seq((1L, "a"), (1L, "b")).toDF("id", "v"))))
    assert(!e2.build().ok)
    assert(!new java.io.File(s"$dir2/_test_failures").exists)
  }

  test("docs generate: catalog.json lists stored columns, row count, bytes; views columns-only") {
    val dir = tmpDir("engcat")
    val e = new Engine(spark, dir, Map.empty, Seq(
      Model("tbl", Seq(), Materialization.Table)((_, _) =>
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Model("vw", Seq("tbl"), Materialization.View)((_, r) =>
        r("tbl").select($"id"))))
    assert(e.build().ok)
    e.docsGenerate()
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "catalog.json")), "UTF-8")
    val tbl = """"name":"tbl","materialized":true,"columns":\[([^\]]*)\],"row_count":(\d+),"bytes":(\d+)""".r
      .findFirstMatchIn(raw)
    assert(tbl.isDefined, raw)
    assert(tbl.get.group(1).contains(""""name":"id","type":"bigint""""), raw)
    assert(tbl.get.group(2).toLong == 2L, raw)
    assert(tbl.get.group(3).toLong > 0L, raw)
    // views: columns from the analyzed plan, no storage facts
    assert(raw.contains(""""name":"vw","materialized":false"""), raw)
    assert(!raw.matches("""(?s).*"name":"vw"[^}]*"row_count".*"""), raw)
  }

  test("source freshness: pass/warn/error thresholds; empty source errors") {
    import java.time.Duration
    def src(ts: String*) = ts.map(Timestamp.valueOf).map(Tuple1(_))
      .toDF("loaded_at")
    val asOf = Timestamp.valueOf("2024-01-10 00:00:00")
    val cfg = Map(
      "fresh" -> Freshness("loaded_at", Duration.ofHours(12), Duration.ofHours(48)),
      "stale" -> Freshness("loaded_at", Duration.ofHours(12), Duration.ofHours(48)),
      "dead" -> Freshness("loaded_at", Duration.ofHours(12), Duration.ofHours(48)),
      "empty" -> Freshness("loaded_at", Duration.ofHours(12), Duration.ofHours(48)))
    val res = Freshness.check(Map(
      "fresh" -> src("2024-01-09 20:00:00"), // 4 h old
      "stale" -> src("2024-01-09 20:00:00", "2024-01-09 02:00:00"), // max = 4 h; multi-row takes MAX
      "dead" -> src("2024-01-01 00:00:00"), // 9 days
      "empty" -> src().limit(0)), cfg, asOf).map(r => r.source -> r.status).toMap
    assert(res == Map("fresh" -> "pass", "stale" -> "pass",
      "dead" -> "error", "empty" -> "error"))
    // warn band: older than warn_after, inside error_after
    val warn = Freshness.check(
      Map("s" -> src("2024-01-09 00:00:00")), // 24 h
      Map("s" -> Freshness("loaded_at", Duration.ofHours(12), Duration.ofHours(48))),
      asOf)
    assert(warn.head.status == "warn" && warn.head.ageSeconds == 86400L)
    val js = Freshness.json(warn)
    assert(js.contains(""""status":"warn"""") && js.contains(""""age_s":86400"""), js)
  }

  // ---- Microbatch (dbt 1.9 incremental_strategy='microbatch') ----

  test("microbatch restates the lookback window; older late rows drop; untouched batches' files survive") {
    val dir = tmpDir("engmb")
    def row(id: Long, day: String, v: String) =
      (id, Timestamp.valueOf(s"2024-01-0$day 12:00:00"), v)
    var batch = Seq(row(1, "1", "a"), row(2, "2", "b"), row(3, "3", "c"))
      .toDF("id", "ts", "v")
    val m = Model("mb", Seq(),
      Materialization.Microbatch("ts", "day", 1))((_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    val bcol = Materialization.Microbatch.BatchCol
    assert(!e.ref("mb").columns.contains(bcol)) // batch col is layout, not data
    def files(day: String): Set[String] = {
      val d = new java.io.File(s"$dir/mb/$bcol=2024-01-0$day")
      if (!d.exists) Set.empty
      else d.listFiles.map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet
    }
    val d1Before = files("1")
    // frontier = Jan 3, lookback 1 ⇒ restate Jan 2+; the Jan-1 late row
    // is beyond the horizon and must be dropped, the Jan-2 late row and
    // the new Jan-4 batch land
    batch = Seq(row(1, "1", "a"), row(2, "2", "b"), row(3, "3", "c"),
      row(10, "1", "late-too-late"), row(11, "2", "late-ok"), row(12, "4", "new"))
      .toDF("id", "ts", "v")
    assert(e.build().ok)
    val got = e.ref("mb").select($"id", $"v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c",
      11L -> "late-ok", 12L -> "new"))
    assert(files("1") == d1Before, "Jan-1 partition was rewritten")
  }

  test("microbatch month grain; emptied batch partition is deleted") {
    val dir = tmpDir("engmbm")
    def row(id: Long, mon: String) =
      (id, Timestamp.valueOf(s"2024-$mon-15 00:00:00"))
    var batch = Seq(row(1, "01"), row(2, "02"), row(3, "03")).toDF("id", "ts")
    val m = Model("mb", Seq(),
      Materialization.Microbatch("ts", "month", 1))((_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    // frontier = March, lookback 1 ⇒ restate Feb+. The new source has
    // NO March rows: March's restatement is empty, its partition must
    // be deleted (dynamic overwrite alone cannot remove it); January is
    // outside the window and survives.
    batch = Seq(row(1, "01"), row(2, "02"), row(4, "02")).toDF("id", "ts")
    assert(e.build().ok)
    assert(e.ref("mb").select($"id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    val bcol = Materialization.Microbatch.BatchCol
    assert(!new java.io.File(s"$dir/mb/$bcol=2024-03-01").exists)
    // full refresh is create-table-as: the dropped-late world is replaced
    batch = Seq(row(9, "03")).toDF("id", "ts")
    assert(e.build(fullRefresh = true).ok)
    assert(e.ref("mb").select($"id").as[Long].collect().toSet == Set(9L))
  }

  test("on_schema_change applies to DeleteInsert restatements too") {
    // AppendNewColumns: a restated window carrying a new column evolves
    // the table; untouched partitions' rows read null for it
    val dir = tmpDir("engdevo")
    var batch = Seq((1L, "2024-01", "a")).toDF("id", "month", "v")
    val m = Model("fct", Seq(), Materialization.DeleteInsert("month",
      Materialization.SchemaChange.AppendNewColumns))((_, _) => batch)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    batch = Seq((2L, "2024-02", "b", 7.5)).toDF("id", "month", "v", "score")
    assert(e.build().ok)
    val out = e.ref("fct")
    assert(out.columns.toSet == Set("id", "month", "v", "score"))
    assert(out.filter($"id" === 1L).select($"score").first().isNullAt(0))
    assert(out.filter($"id" === 2L).select($"score").first().getDouble(0) == 7.5)

    // default Ignore: the stray column is dropped, schema frozen
    val dir2 = tmpDir("engdfrz")
    var b2 = Seq((1L, "2024-01", "a")).toDF("id", "month", "v")
    val m2 = Model("fct", Seq(),
      Materialization.DeleteInsert("month"))((_, _) => b2)
    val e2 = new Engine(spark, dir2, Map.empty, Seq(m2))
    assert(e2.build().ok)
    b2 = Seq((2L, "2024-02", "b", 7.5)).toDF("id", "month", "v", "junk")
    assert(e2.build().ok)
    assert(e2.ref("fct").columns.toSet == Set("id", "month", "v"))

    // Fail: a drifted restatement errors the node
    val dir3 = tmpDir("engdfail")
    var b3 = Seq((1L, "2024-01", "a")).toDF("id", "month", "v")
    val m3 = Model("fct", Seq(), Materialization.DeleteInsert("month",
      Materialization.SchemaChange.Fail))((_, _) => b3)
    val e3 = new Engine(spark, dir3, Map.empty, Seq(m3))
    assert(e3.build().ok)
    b3 = Seq((2L, "2024-02", "b", 7.5)).toDF("id", "month", "v", "extra")
    val r3 = e3.build()
    assert(!r3.ok && r3("fct").error.exists(_.contains("on_schema_change")))
  }

  test("compactIfNeeded: files-per-partition threshold gates the rewrite") {
    val dir = tmpDir("engcmpt")
    var batch = Seq.empty[(Long, Timestamp, String)]
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    def send(rows: (Long, String, String)*): Unit = {
      batch = batch ++ rows.map { case (id, ts, k) =>
        (id, Timestamp.valueOf(ts), k)
      }
      assert(e.build().ok)
    }
    send((1L, "2024-01-01 00:00:00", "a"))
    send((2L, "2024-01-02 00:00:00", "a"))
    send((3L, "2024-01-03 00:00:00", "a"), (4L, "2024-01-03 00:00:00", "b"))
    assert(e.maxFilesPerPartition("log") == 3)
    // below threshold: listing only, no rewrite
    assert(e.compactIfNeeded("log", maxFiles = 3).isEmpty)
    assert(e.maxFilesPerPartition("log") == 3)
    // over threshold: one rewrite → one file per partition, rows intact
    val before = spark.read.parquet(s"$dir/log")
      .as[(Long, Timestamp, String)].collect().toSet
    assert(e.compactIfNeeded("log", maxFiles = 2).contains(4L))
    assert(e.maxFilesPerPartition("log") == 1)
    assert(spark.read.parquet(s"$dir/log")
      .as[(Long, Timestamp, String)].collect().toSet == before)
    // debt reset: the same threshold no longer trips
    assert(e.compactIfNeeded("log", maxFiles = 2).isEmpty)
  }

  test("compactAfterFiles: engine-owned compaction cadence holds across builds") {
    val dir = tmpDir("engauto")
    var batch = Seq.empty[(Long, Timestamp, String)]
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k"),
        compactAfterFiles = Some(2)))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    def send(day: Int): Unit = {
      batch = batch :+ ((day.toLong,
        Timestamp.valueOf(f"2024-01-0$day%d 00:00:00"), "a"))
      val rpt = e.build()
      assert(rpt.ok)
      // rows stays the APPENDED count (dbt rows-affected), never the
      // compaction's rewrite count
      assert(rpt("log").rows == 1, rpt("log").rows)
      // run_results carries the POST-maintenance debt: the policy holds
      assert(rpt("log").maxFilesPerPartition <= 3, rpt("log").maxFilesPerPartition)
    }
    (1 to 5).foreach(send)
    // 5 builds with threshold 2: debt never exceeded 3 (checked per
    // build above) and the content is the full history, delta-only
    assert(e.maxFilesPerPartition("log") <= 3)
    assert(spark.read.parquet(s"$dir/log").filter($"id".isNotNull)
      .select($"id").as[Long].collect().toSet == (1L to 5L).toSet)
    assert(e.build()("log").rows == 0) // frontier intact after maintenance
  }

  test("expireBefore: watermark-horizon TTL drops pre-cutoff rows; frontier survives total expiry") {
    val dir = tmpDir("engexp")
    var batch = Seq.empty[(Long, Timestamp, String)]
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    def send(rows: (Long, String, String)*): Unit = {
      batch = batch ++ rows.map { case (id, ts, k) =>
        (id, Timestamp.valueOf(ts), k)
      }
      assert(e.build().ok)
    }
    send((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-02 00:00:00", "b"))
    send((3L, "2024-01-03 00:00:00", "a"))
    // horizon at Jan 2: row 1 expires, rows 2-3 retained; one file per
    // partition after the rewrite
    assert(e.expireBefore("log", Timestamp.valueOf("2024-01-02 00:00:00")) == 2)
    val kept = spark.read.parquet(s"$dir/log")
    assert(kept.filter($"id".isNotNull).select($"id").as[Long]
      .collect().toSet == Set(2L, 3L))
    // retained frontier row still carries the mark: no marker needed,
    // and re-sending history appends nothing
    assert(kept.filter($"id".isNull).count() == 0)
    assert(e.build()("log").rows == 0)
    // TOTAL expiry: every data row predates the horizon — the frontier
    // must survive as a marker so the same source still re-ingests
    // nothing (expired history stays expired)
    assert(e.expireBefore("log", Timestamp.valueOf("2025-01-01 00:00:00")) == 0)
    val empty = spark.read.parquet(s"$dir/log")
    assert(empty.filter($"id".isNotNull).count() == 0)
    assert(empty.agg(max($"ingested_at")).first().getTimestamp(0)
      == Timestamp.valueOf("2024-01-03 00:00:00")) // the restated mark
    assert(e.build()("log").rows == 0)
    // new data past the mark still lands delta-only
    send((4L, "2024-01-04 00:00:00", "b"))
    assert(spark.read.parquet(s"$dir/log").filter($"id".isNotNull)
      .select($"id").as[Long].collect().toSet == Set(4L))
  }

  test("maxFilesPerPartition counts loose files alongside partition dirs (mixed layout)") {
    val dir = tmpDir("engmix")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
    val m = Model("log", Seq(),
      Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
      batch.toDF("id", "ingested_at", "k"))
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build().ok)
    batch = batch :+ ((2L, Timestamp.valueOf("2024-01-02 00:00:00"), "a"))
    assert(e.build().ok)
    assert(e.maxFilesPerPartition("log") == 2)
    // simulate a mixed layout: data files sitting at the model root
    // BESIDE the k= partition dirs (non-Hive writers produce these) —
    // they owe the debt count too, not just the leaf dirs
    val part = new java.io.File(s"$dir/log/k=a").listFiles
      .filter(_.getName.endsWith(".parquet"))
    for ((f, i) <- part.zipWithIndex ++ part.zipWithIndex.map {
        case (f, i) => (f, i + part.length) })
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$dir/log/loose_$i.parquet"))
    assert(e.maxFilesPerPartition("log") == 4) // 4 loose > 2 in k=a
  }

  test("build's run_results.json surfaces small-files debt for IncrementalAppend models") {
    val dir = tmpDir("engrrmf")
    var batch = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
    val mk = Seq(
      Model("log", Seq(),
        Materialization.IncrementalAppend("ingested_at", Seq("k")))((_, _) =>
        batch.toDF("id", "ingested_at", "k")),
      Model("tbl", Seq("log"), Materialization.Table)((_, r) => r("log")))
    val e = new Engine(spark, dir, Map.empty, mk)
    assert(e.build().ok)
    batch = batch :+ ((2L, Timestamp.valueOf("2024-01-02 00:00:00"), "a"))
    assert(e.build().ok)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "run_results.json")), "UTF-8")
    // still strict JSON with the new field
    spark.read.option("mode", "FAILFAST")
      .json(spark.createDataset(Seq(raw))(org.apache.spark.sql.Encoders.STRING))
      .collect()
    // the append model reports its post-build debt (2 builds → 2 files
    // in k=a); the plain table reports none
    val mf = """"name":"log"[^}]*"max_files_per_partition":(\d+)""".r
      .findFirstMatchIn(raw).map(_.group(1).toInt)
    assert(mf.contains(2), raw)
    assert(!raw.matches("""(?s).*"name":"tbl"[^}]*"max_files_per_partition".*"""), raw)
  }

  test("write-layout rule: every partitioned kind writes 1 file per partition value (≡ full refresh)") {
    val dir = tmpDir("englayout")
    // every buildFn spreads its rows over 8 tasks, so without the rule
    // each partition value lands as one file per task holding it
    def row(id: Long, k: String, month: Int, v: Long) = (id, k,
      f"2024-$month%02d-01", Timestamp.valueOf(f"2024-01-$month%02d 12:00:00"), v)
    var src = (1L to 24L).map(i => row(i, s"k${i % 3}", 1 + (i % 4).toInt, 1L))
    def spread = src.toDF("id", "k", "month", "ts", "v").repartition(8)
    // delete+insert restates months 3+; the merge delta is the same rows
    def window(prior: Option[org.apache.spark.sql.DataFrame]) =
      if (prior.isEmpty) spread else spread.filter($"month" >= "2024-03-01")
    val models = Seq(
      // append sees only new ids (its history is immutable by contract)
      Model("app", Seq(), Materialization.IncrementalAppend("id", Seq("k")))(
        (_, _) => spread.drop("v")),
      Model.incremental("di", Seq(), Materialization.DeleteInsert("month"))(
        (_, _, prior) => window(prior)),
      // frontier Jan 4, lookback 1 day: Jan 3+ is restated
      Model("mb", Seq(), Materialization.Microbatch("ts", "day", 1))((_, _) => spread),
      Model.incremental("mu", Seq(), Materialization.MergeUpsert("id", 4))(
        (_, _, prior) => window(prior)))
    val e = new Engine(spark, dir, Map.empty, models)
    def assertLayout(rpt: BuildReport): Unit = {
      assert(rpt.ok, rpt.results.mkString("; "))
      def leaves(d: java.io.File): Seq[(String, Int)] = {
        val (dirs, files) = d.listFiles.toSeq.partition(_.isDirectory)
        if (dirs.isEmpty) Seq(d.getName -> files.count(_.getName.endsWith(".parquet")))
        else dirs.flatMap(leaves)
      }
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "run_results.json")), "UTF-8")
      models.map(_.name).foreach { n =>
        val ls = leaves(new java.io.File(s"$dir/$n"))
        assert(ls.size >= 3 && ls.forall(_._2 == 1), s"$n: $ls")
        val mf = s""""name":"$n"[^}]*"max_files_per_partition":(\\d+)""".r
          .findFirstMatchIn(raw).map(_.group(1).toInt)
        assert(mf.contains(1), s"$n: $raw")
      }
    }
    def contents = models.map(_.name).map { n =>
      val df = e.ref(n)
      n -> df.select(df.columns.sorted.map(col): _*).collect().toSet
    }.toMap
    assertLayout(e.build())
    // batch 2: months 3-4 corrected (v = 2) plus a late month-4 row, and
    // new ids in a new month / day / k values
    src = src.map { case r @ (id, k, m, ts, _) =>
      if (m >= "2024-03-01") (id, k, m, ts, 2L) else r } ++
      (25L to 36L).map(i => row(i, s"n${i % 3}", 5, 1L)) :+ row(37L, "n1", 4, 1L)
    assertLayout(e.build())
    val incremental = contents
    assert(incremental("di").size == 37 && incremental("mu").size == 37)
    assertLayout(e.build(fullRefresh = true))
    assert(contents == incremental)
  }

  test("delete+insert restates only the window's partitions (≡ full refresh)") {
    val dir = tmpDir("eng")
    def fact(rows: Seq[(Long, String, Double)]) = rows.toDF("id", "month", "v")
    // run 1: full history
    var current = fact(Seq((1L, "2024-01-01", 1.0), (2L, "2024-02-01", 2.0), (3L, "2024-03-01", 3.0)))
    val m = Model("fct", Seq(), Materialization.DeleteInsert("month"))((_, _) => current)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build()("fct").rows == 3)
    // run 2: restate only months >= 2024-02 with corrected values + a new
    // month — report counts the 3 rows WRITTEN into restated partitions
    current = fact(Seq((2L, "2024-02-01", 20.0), (3L, "2024-03-01", 30.0), (4L, "2024-04-01", 4.0)))
    assert(e.build()("fct").rows == 3)
    val got = spark.read.parquet(s"$dir/fct")
      .select($"id", $"v").as[(Long, Double)].collect().toMap
    // January untouched, Feb/Mar overwritten, April added
    assert(got == Map(1L -> 1.0, 2L -> 20.0, 3L -> 30.0, 4L -> 4.0))
    // full refresh: static overwrite — a recomputed history that no
    // longer CONTAINS January must also drop its lingering partition
    // (dynamic overwrite could not; dbt --full-refresh recreates)
    current = fact(Seq((2L, "2024-02-01", 200.0), (3L, "2024-03-01", 300.0)))
    assert(e.build(fullRefresh = true)("fct").rows == 2)
    val refreshed = spark.read.parquet(s"$dir/fct")
      .select($"id", $"v").as[(Long, Double)].collect().toMap
    assert(refreshed == Map(2L -> 200.0, 3L -> 300.0))
  }

  test("rolling restatement window via targetIfExists (S12): stale months stay put") {
    val dir = tmpDir("eng")
    var source = Seq((1L, "2024-01-01", 1.0), (2L, "2024-02-01", 1.0), (3L, "2024-03-01", 1.0))
    var eng: Engine = null
    val m = Model("fct", Seq(), Materialization.DeleteInsert("month"))((_, _) => {
      val full = source.toDF("id", "month", "v")
      eng.targetIfExists("fct") match {
        case Some(t) =>
          // reprocess_months=2: recompute only the last two months present
          val window = t.select($"month").distinct().as[String].collect().sorted.takeRight(2)
          full.filter($"month".isin(window: _*))
        case None => full
      }
    })
    eng = new Engine(spark, dir, Map.empty, Seq(m))
    assert(eng.build()("fct").rows == 3)
    // upstream restates EVERYTHING to 10.0, but only Feb+Mar (2 rows
    // written) are in the restatement window — January keeps its stale
    // value (the
    // reference's documented late-correction tradeoff, README.md:124-132)
    source = source.map { case (id, mo, _) => (id, mo, 10.0) }
    assert(eng.build()("fct").rows == 2)
    val got = spark.read.parquet(s"$dir/fct")
      .select($"month", $"v").as[(String, Double)].collect().toMap
    assert(got == Map("2024-01-01" -> 1.0, "2024-02-01" -> 10.0, "2024-03-01" -> 10.0))
  }

  test("csv loader stamps lineage and appends batches") {
    val dir = tmpDir("csv")
    val csv = s"$dir/accounts.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "account_id,name\n1,Acme\n2,Globex\n")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")
    assert(CsvLoader.load(spark, csv, s"$dir/raw", t1, "append") == 2)
    // append reports THIS batch's rows (the loader's "rows affected"),
    // not the accumulated table's total
    assert(CsvLoader.load(spark, csv, s"$dir/raw", t2, "append") == 2)
    val df = spark.read.parquet(s"$dir/raw")
    assert(df.count() == 4)
    assert(df.columns.toSet == Set("account_id", "name", "ingested_at", "source_file"))
    assert(df.filter($"ingested_at" === lit(t2)).count() == 2)
    assert(CsvLoader.load(spark, csv, s"$dir/raw", t2, "replace") == 2)
  }

  test("selective build (--select): name, name+, +name; unselected upstream not rebuilt") {
    var baseBuilds = 0
    val mk = Seq(
      Model("base", Seq("raw_orders"), Materialization.Table)((_, r) => {
        baseBuilds += 1; r("raw_orders")
      }),
      Model("mid", Seq("base"), Materialization.Table)((_, r) => r("base")),
      Model("top", Seq("mid"), Materialization.Table)((_, r) => r("mid")))
    val dir = tmpDir("engsel")
    val e = eng(dir, mk)
    assert(e.build().ok)
    assert(baseBuilds == 1)

    // select a single node: only it rebuilds, upstream untouched
    val r1 = e.build(select = Seq("mid"))
    assert(r1.results.map(_.name) == Seq("mid"))
    assert(r1.ok && baseBuilds == 1)

    // downstream closure
    val r2 = e.build(select = Seq("mid+"))
    assert(r2.results.map(_.name).toSet == Set("mid", "top"))
    assert(baseBuilds == 1)

    // upstream closure rebuilds the parent too
    val r3 = e.build(select = Seq("+mid"))
    assert(r3.results.map(_.name).toSet == Set("base", "mid"))
    assert(baseBuilds == 2)

    intercept[IllegalArgumentException] { e.build(select = Seq("nope")) }
  }

  test("parallel build (threads=4): diamond DAG equals sequential; failures still block downstream") {
    val mk = Seq(
      Model("base", Seq("raw_orders"), Materialization.Table)((_, r) => r("raw_orders")),
      Model("left", Seq("base"), Materialization.Table)((_, r) => r("base").filter($"status" === "A")),
      Model("right", Seq("base"), Materialization.Table)((_, r) => r("base").filter($"status" === "B")),
      Model("join", Seq("left", "right"), Materialization.Table)((_, r) =>
        r("left").unionByName(r("right"))))
    val seqRpt = eng(tmpDir("engs"), mk).build(threads = 1)
    val parRpt = eng(tmpDir("engp"), mk).build(threads = 4)
    assert(parRpt.ok, parRpt.results.mkString("; "))
    // same statuses and row counts in topo order (measured elapsedMs /
    // shuffleBytes legitimately differ run-to-run — compare semantics only)
    def norm(r: graft.engine.BuildReport) =
      r.results.map(n => (n.name, n.status, n.rows, n.failedChecks))
    assert(norm(seqRpt) == norm(parRpt))
    assert(parRpt("join").rows == 3)

    // a failing check on one branch blocks only its downstream, in parallel too
    val bad = mk.map {
      case m if m.name == "left" =>
        Model("left", Seq("base"), Materialization.Table,
          checks = Seq(Checks.acceptedValues("status", Seq("Z"))))((_, r) =>
          r("base").filter($"status" === "A"))
      case m => m
    }
    val rpt = eng(tmpDir("engf"), bad).build(threads = 4)
    assert(rpt("left").status == "test_failed")
    assert(rpt("right").status == "ok")
    assert(rpt("join").status == "skipped_upstream")
  }

  test("parallel build (threads=4) with testHistory + unit tests: audit logs stay strict-JSON and complete") {
    // worker threads append to the shared _audit logs concurrently — the
    // synchronized writer must keep every line whole and none dropped
    val mk = Seq(
      Model("base", Seq("raw_orders"), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, r) => r("raw_orders")),
      Model("left", Seq("base"), Materialization.Table,
        checks = Seq(Checks.notNull("status")))((_, r) =>
        r("base").filter($"status" === "A")),
      Model("right", Seq("base"), Materialization.Table,
        checks = Seq(Checks.notNull("amount")))((_, r) =>
        r("base").filter($"status" === "B")),
      Model("join", Seq("left", "right"), Materialization.Table)((_, r) =>
        r("left").unionByName(r("right"))))
    val dir = tmpDir("engpaud")
    val fix = Map("raw_orders" ->
      Seq((9L, "A", 1.0, Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("id", "status", "amount", "ingested_at"))
    val e = new Engine(spark, dir,
      Map("raw_orders" -> Seq(
        (1L, "A", 10.0, Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "B", 20.0, Timestamp.valueOf("2024-01-02 00:00:00"))
      ).toDF("id", "status", "amount", "ingested_at")),
      mk,
      unitTests = Seq(UnitTest("ut_base", "base", fix,
        Seq(Tuple1(9L)).toDF("id"))),
      testHistory = true)
    (1 to 2).foreach(_ => assert(e.build(threads = 4).ok))
    def strictLines(f: String): Seq[String] = {
      val lines = scala.io.Source.fromFile(s"$dir/_audit/$f").getLines().toSeq
      val parsed = spark.read
        .schema("model STRING, _corrupt_record STRING")
        .json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
      assert(parsed.filter($"_corrupt_record".isNotNull).count() == 0,
        s"$f has corrupt lines")
      lines
    }
    // 3 checks + 1 unit test per build × 2 builds
    assert(strictLines("test_history.jsonl").size == 8)
    // 4 materialized models per build × 2 builds
    val bh = strictLines("build_history.jsonl")
    assert(bh.size == 8)
    // every model logged every build (no dropped lines under concurrency)
    Seq("base", "left", "right", "join").foreach { m =>
      assert(bh.count(_.contains(s""""model":"$m"""")) == 2, m)
    }
  }

  test("build's default worker count: the session's defaultParallelism, capped at the model count") {
    def views(n: Int) = (1 to n).map(i =>
      Model(s"v$i", Seq("raw_orders"), Materialization.View)((_, r) => r("raw_orders")))
    val cores = spark.sparkContext.defaultParallelism
    val dir = tmpDir("engthr")
    assert(eng(dir, views(1)).defaultThreads == 1)
    assert(eng(dir, views(2)).defaultThreads == math.min(2, cores))
    assert(eng(dir, views(cores + 3)).defaultThreads == cores)
  }

  test("a relationship check to a later-sorting sibling runs after it, under threads = 1 and the default") {
    // `zparent` is not a dep of `child` and sorts after it, so only the
    // check's recorded ref orders the two: without it, a first build's
    // check reads a parent that does not exist yet.
    def mk(parentKeeps: org.apache.spark.sql.Column, parentChecks: Seq[Check] = Nil) = Seq(
      Model("child", Seq("raw_orders"), Materialization.Table,
        checks = Seq(Checks.relationshipsTo("id", "zparent", "id")))((_, r) => r("raw_orders")),
      Model("zparent", Seq("raw_orders"), Materialization.Table, checks = parentChecks)(
        (_, r) => r("raw_orders").filter(parentKeeps)))
    assert(eng(tmpDir("engrel"), mk(lit(true))).topoOrder == Seq("zparent", "child"))
    for (threads <- Seq(Some(1), None)) {
      def build(ms: Seq[Model]) = {
        val e = eng(tmpDir("engrel"), ms)
        threads.fold(e.build())(t => e.build(threads = t))
      }
      val green = build(mk(lit(true)))
      assert(green.ok, s"$threads: ${green.results.mkString("; ")}")
      val red = build(mk($"id" =!= 2))
      assert(red("zparent").status == "ok", s"$threads: ${red.results.mkString("; ")}")
      assert(red("child").status == "test_failed", s"$threads: ${red.results.mkString("; ")}")
      assert(red("child").failedChecks == Seq("relationships(id -> zparent.id)"))
      // ordering only: a red parent does not skip the child
      val redParent = build(mk(lit(true), Seq(Checks.acceptedValues("status", Seq("Z")))))
      assert(redParent("zparent").status == "test_failed")
      assert(redParent("child").status == "ok", s"$threads: ${redParent.results.mkString("; ")}")
    }
  }

  test("SCD2 snapshot storage: closed slice is append-only; a batch writes O(open+changed)") {
    val dir = tmpDir("engsnap")
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-0$d%d 00:00:00")
    var truth = Seq(("a", "h1"), ("b", "h1"), ("c", "h1")).toDF("account_id", "record_hash")
    val m = Model("snap", Seq(),
      Materialization.Scd2Snapshot("account_id", Seq("record_hash")))((_, _) => truth)
    val e = new Engine(spark, dir, Map.empty, Seq(m))
    assert(e.build(ts(1))("snap").rows == 3) // first batch: 3 open rows
    // one key changes → batch writes 1 newly-closed + 3 open = 4 rows,
    // NOT the 5-row full history
    truth = Seq(("a", "h2"), ("b", "h1"), ("c", "h1")).toDF("account_id", "record_hash")
    assert(e.build(ts(2))("snap").rows == 4)
    val closedDir = new java.io.File(s"$dir/snap/closed")
    val before = closedDir.listFiles.map(_.getName).filter(_.startsWith("part-")).toSet
    assert(before.nonEmpty)
    truth = Seq(("a", "h2"), ("b", "h2"), ("c", "h1")).toDF("account_id", "record_hash")
    assert(e.build(ts(3))("snap").rows == 4)
    // every pre-existing closed data file is still there, plus new ones:
    // immutable history was appended to, never rewritten
    val after = closedDir.listFiles.map(_.getName).filter(_.startsWith("part-")).toSet
    assert(before.subsetOf(after) && after.size > before.size)
    // semantics ≡ the one-shot full merge of the same batches
    val batches = Seq(
      Seq(("a", "h1"), ("b", "h1"), ("c", "h1")),
      Seq(("a", "h2"), ("b", "h1"), ("c", "h1")),
      Seq(("a", "h2"), ("b", "h2"), ("c", "h1")))
    val full = batches.zipWithIndex.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      case (snap, (rows, i)) =>
        Some(Snapshot.merge(spark, snap, rows.toDF("account_id", "record_hash"),
          "account_id", Seq("record_hash"), ts(i + 1)))
    }.get
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"account_id", $"record_hash", $"dbt_valid_from", $"dbt_valid_to")
      .as[(String, String, Timestamp, Option[Timestamp])].collect().sortBy(_.toString).toSeq
    assert(canon(e.ref("snap")) == canon(full))
    assert(Snapshot.current(e.ref("snap")).count() == 3)

    // RETENTION: closed history at this point is a@h1 (valid_to=ts2)
    // and b@h1 (valid_to=ts3). Expiring before ts(3) drops only the
    // version that stopped being current before the horizon (a@h1);
    // open truth and the in-horizon closed row are untouched, and
    // as-of queries at/after the horizon still answer identically.
    val (_, expireJobs) = jobsDuring(assert(e.expireSnapshotHistory("snap", ts(3)) == 1))
    // the retained count rides the rewrite's write: no separate count pass
    assert(expireJobs <= 2, s"expireSnapshotHistory launched $expireJobs jobs")
    val retained = e.ref("snap")
    assert(retained.filter($"dbt_valid_to".isNull).count() == 3) // open intact
    assert(retained.filter($"dbt_valid_to".isNotNull)
      .select($"account_id", $"record_hash").as[(String, String)]
      .collect().toSet == Set(("b", "h1")))
    assert(Snapshot.current(retained).count() == 3)
    // ingestion composes with retention (merge never reads closed/):
    // the next batch still writes delta-only on top of the pruned slice
    truth = Seq(("a", "h3"), ("b", "h2"), ("c", "h1")).toDF("account_id", "record_hash")
    assert(e.build(ts(4))("snap").rows == 4)
    assert(Snapshot.current(e.ref("snap")).count() == 3)
    assert(e.ref("snap").filter($"dbt_valid_to".isNotNull).count() == 2)
    // non-snapshot models reject the op
    intercept[IllegalArgumentException](
      eng(tmpDir("engret"), Seq(Model("t", Seq("raw_orders"),
        Materialization.Table)((_, r) => r("raw_orders"))))
        .expireSnapshotHistory("t", ts(1)))
  }

  test("materialization row counts come from write metrics — no post-write re-scan job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val m = Model("t", Seq("raw_orders"), Materialization.Table)((_, r) => r("raw_orders"))
    val e = eng(tmpDir("engjobs"), Seq(m))
    spark.sparkContext.addSparkListener(listener)
    try {
      val rpt = e.build()
      assert(rpt("t").rows == 3)
      // listener events are async; wait for the queue to drain
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (System.currentTimeMillis() < deadline && jobs.get != last) {
        last = jobs.get; Thread.sleep(200)
      }
      // exactly the ONE write job — the row count rode along as an
      // observed metric instead of a second count() scan of the target
      assert(jobs.get == 1, s"expected 1 job (the write), saw ${jobs.get}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("selective build: unselected intervening views re-resolve over rebuilt uptream state") {
    var data = Seq((1L, 1.0))
    val mk = Seq(
      Model("a", Seq(), Materialization.Table)((_, _) => data.toDF("id", "v")),
      Model("vw", Seq("a"), Materialization.View)((_, r) => r("a").filter($"v" > 0)),
      Model("b", Seq("vw"), Materialization.Table)((_, r) => r("vw")))
    val dir = tmpDir("engselv")
    val e = new Engine(spark, dir, Map.empty, mk)
    assert(e.build().ok)
    // select a and b but NOT the view between them: the view must be
    // re-resolved lazily inside the sub-build (an eagerly pinned view
    // plan would read a's pre-rebuild, now-deleted parquet files)
    data = Seq((2L, 2.0), (3L, 3.0))
    val rpt = e.build(select = Seq("a", "b"))
    assert(rpt.ok, rpt.results.mkString("; "))
    assert(rpt.results.map(_.name).toSet == Set("a", "b")) // view not reported
    val got = spark.read.parquet(s"$dir/b").select($"id").as[Long].collect().toSet
    assert(got == Set(2L, 3L))
  }

  test("selector validation: +name and name+ reject unknown models like bare names") {
    val mk = Seq(Model("only", Seq(), Materialization.Table)((_, _) => spark.range(1).toDF))
    val e = new Engine(spark, tmpDir("engselu"), Map.empty, mk)
    intercept[IllegalArgumentException] { e.build(select = Seq("+nope")) }
    intercept[IllegalArgumentException] { e.build(select = Seq("nope+")) }
  }

  test("freshness check: stale or never-loaded source fails, fresh passes") {
    val asOf = Timestamp.valueOf("2024-01-03 12:00:00")
    // newest row is 2024-01-03 00:00:00 — 12h old
    val fresh = Checks.freshness("ingested_at", 24 * 3600, asOf)
    val stale = Checks.freshness("ingested_at", 6 * 3600, asOf)
    def staged(c: Check) = Model("staged", Seq("raw_orders"),
      Materialization.Table, checks = Seq(c))((_, r) => r("raw_orders"))

    assert(eng(tmpDir("engfr1"), Seq(staged(fresh))).build().ok)
    val rpt = eng(tmpDir("engfr2"), Seq(staged(stale))).build()
    assert(!rpt.ok)
    assert(rpt("staged").status == "test_failed")
    // a source that has never loaded is the stalest possible source
    val empty = new Engine(spark, tmpDir("engfr3"),
      Map("raw" -> spark.range(0).select($"id".cast("timestamp").as("ingested_at"))),
      Seq(Model("s", Seq("raw"), Materialization.Table,
        checks = Seq(fresh))((_, r) => r("raw"))))
    assert(!empty.build().ok)
  }

  test("build writes a manifest.json artifact for the whole project") {
    val dir = tmpDir("engman")
    val mk = Seq(
      Model("a", Seq("raw_orders"), Materialization.Table,
        checks = Seq(Checks.unique("id")))((_, r) => r("raw_orders")),
      Model("b", Seq("a"), Materialization.IncrementalAppend("ingested_at"))(
        (_, r) => r("a")))
    val e = eng(dir, mk)
    assert(e.build().ok)
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    assert(m.contains(""""sources":["raw_orders"]"""), m)
    assert(m.indexOf(""""name":"a"""") < m.indexOf(""""name":"b""""), m) // topo order
    assert(m.contains(""""deps":["a"]"""), m)
    assert(m.contains("IncrementalAppend(ingested_at"), m)
    assert(m.contains("unique(id)"), m)
    // a selective rebuild must leave the FULL project manifest in place
    assert(e.build(select = Seq("b")).ok)
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    assert(m2.contains(""""name":"a""""), m2)
  }

  test("build writes run_results.json: per-node outcome, rows, wall time, shuffle bytes") {
    val dir = tmpDir("engrr")
    val mk = Seq(
      Model("a", Seq("raw_orders"), Materialization.Table)((_, r) => r("raw_orders")),
      // a grouped rebuild so at least one node really shuffles
      Model("b", Seq("a"), Materialization.Table)((_, r) =>
        r("a").groupBy($"id" % 3).agg(count(lit(1)).as("n"))))
    assert(eng(dir, mk).build().ok)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "run_results.json")), "UTF-8")
    // machine-readable: a strict JSON parser must accept it
    val parsed = spark.read.option("mode", "FAILFAST")
      .json(spark.createDataset(Seq(raw))(org.apache.spark.sql.Encoders.STRING))
    assert(parsed.columns.contains("results"))
    assert(raw.startsWith("""{"results":["""), raw)
    assert(raw.contains(""""name":"a","status":"ok""""), raw)
    assert(raw.contains(""""name":"b","status":"ok""""), raw)
    // numbers are real measurements, not defaults
    val shuffleB = """"name":"b"[^}]*"shuffle_bytes":(-?\d+)""".r
      .findFirstMatchIn(raw).get.group(1).toLong
    assert(shuffleB > 0, raw)
    val elapsed = """"elapsed_ms":(-?\d+)""".r
      .findAllMatchIn(raw).map(_.group(1).toLong).toSeq
    assert(elapsed.forall(_ >= 0), raw)
    // executed-subset semantics: a selective rebuild rewrites run_results
    // with ONLY the executed nodes (dbt's run_results covers the run)
    assert(eng(dir, mk).build(select = Seq("b")).ok)
    val raw2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "run_results.json")), "UTF-8")
    assert(raw2.contains(""""name":"b""""), raw2)
    assert(!raw2.contains(""""name":"a""""), raw2)
  }

  test("bucketed models: downstream join on the bucket key skips the exchange") {
    val n = 5000
    val left = spark.range(n).select($"id".as("k"), ($"id" * 2).as("lv"))
    val right = spark.range(n).select($"id".as("k"), ($"id" * 3).as("rv"))
    val mk = Seq(
      Model("bl", Seq("src_l"), Materialization.BucketedTable("k", 8))((_, r) => r("src_l")),
      Model("br", Seq("src_r"), Materialization.BucketedTable("k", 8))((_, r) => r("src_r")),
      Model("joined", Seq("bl", "br"), Materialization.Table)((_, r) =>
        r("bl").join(r("br"), "k").select($"k", ($"lv" + $"rv").as("v"))))
    val dir = tmpDir("engbkt")
    val e = new Engine(spark, dir,
      Map("src_l" -> left, "src_r" -> right), mk)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rpt = e.build()
      assert(rpt.ok, rpt.results.mkString("; "))
      assert(rpt("bl").rows == n && rpt("br").rows == n && rpt("joined").rows == n)

      // the downstream join read catalog tables with bucket metadata:
      // co-located buckets, so the join keys were never exchanged
      val j = e.ref("bl").join(e.ref("br"), "k").select($"k", ($"lv" + $"rv").as("v"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("Exchange hashpartitioning(k"), p)

      // data still lives under the warehouse dir like any other model,
      // and a rebuild (DROP + overwrite) converges to the same rows
      assert(spark.read.parquet(s"$dir/bl").count() == n)
      assert(e.build().ok)
      assert(e.ref("joined").count() == n)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("torn compact swap before a BUILD heals instead of resurrecting deleted rows") {
    // the build()-side twin of the compact-side recovery test: a crash
    // between compact's rename-aside and rename-into-place leaves the
    // model dir only as .old; an unhealed exists() would answer false
    // and the next build would take the first-write overwrite branch —
    // resurrecting tombstone-deleted rows, losing the restated frontier
    // marker, and leaving .old for the NEXT swap's cleanup to destroy
    val dir = tmpDir("engtornbuild")
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k")
    val m = Model("log", Seq("src"), Materialization.IncrementalAppend("id"))(
      (_, r) => r("src"))
    val e = new Engine(spark, dir, Map("src" -> src), Seq(m))
    assert(e.build()("log").rows == 3)
    // delete the FRONTIER row (id=3): compact restates it as a marker
    assert(e.compact("log", tombstones = Some(Seq(3L).toDF("id"))) == 2)
    // crash between compact's two renames: .old is the only generation
    val model = new java.io.File(s"$dir/log")
    assert(model.renameTo(new java.io.File(s"$dir/log.old")))
    // next build must heal first, see the intact frontier (marker at 3),
    // and append NOTHING — not rebuild from sources
    assert(e.build()("log").rows == 0)
    val rows = e.ref("log")
    assert(rows.filter($"k".isNotNull).select($"id").as[Long].collect().toSet
      == Set(1L, 2L)) // the tombstoned row stayed deleted
    assert(rows.filter($"k".isNull).select($"id").as[Long].collect().toSeq
      == Seq(3L)) // the restated frontier marker survived recovery
    assert(!new java.io.File(s"$dir/log.old").exists)
  }

  test("torn expireSnapshotHistory swap: ref and the next snapshot build heal closed/, not orphan it") {
    val dir = tmpDir("engtornsnap")
    var cur = Seq((1L, "a"), (2L, "x")).toDF("id", "status")
    val snap = Model("snap", Seq(),
      Materialization.Scd2Snapshot("id", Seq("status")))((_, _) => cur)
    val e = new Engine(spark, dir, Map.empty, Seq(snap))
    assert(e.build(Timestamp.valueOf("2024-01-01 00:00:00")).ok)
    cur = Seq((1L, "b"), (2L, "x")).toDF("id", "status")
    assert(e.build(Timestamp.valueOf("2024-02-01 00:00:00")).ok)
    // closed/ now holds the superseded 'a' version — history that,
    // unlike engine models, is NOT rebuildable from sources
    val closed = new java.io.File(s"$dir/snap/closed")
    assert(closed.exists)
    // crash between expireSnapshotHistory's rename-aside and
    // rename-into-place: closed/ survives only as closed.old
    assert(closed.renameTo(new java.io.File(s"$dir/snap/closed.old")))
    // read side: ref() heals before reading — full history visible, not
    // a silent open-slice-only answer
    assert(e.ref("snap").select($"status").as[String].collect().toSet
      == Set("a", "b", "x"))
    assert(closed.exists && !new java.io.File(s"$dir/snap/closed.old").exists)
    // write side: re-tear, then run the next snapshot batch — the
    // closed append must recover first, so the prior history AND the
    // newly closed 'b' row coexist with no .old left to orphan
    assert(closed.renameTo(new java.io.File(s"$dir/snap/closed.old")))
    cur = Seq((1L, "c"), (2L, "x")).toDF("id", "status")
    assert(e.build(Timestamp.valueOf("2024-03-01 00:00:00")).ok)
    assert(e.ref("snap").select($"status").as[String].collect().toSet
      == Set("a", "b", "c", "x"))
    assert(!new java.io.File(s"$dir/snap/closed.old").exists)
    // and a later expire's cleanup finds nothing to destroy: a
    // no-op horizon retains both closed versions and every row survives
    assert(e.expireSnapshotHistory("snap",
      Timestamp.valueOf("2023-01-01 00:00:00")) == 2)
    assert(e.ref("snap").count() == 4)
  }
}
