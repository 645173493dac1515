package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.{TxLog, TxLogFileIndex, Zones}

/** `format("graft")` as a user would drive it: reads (head, versionAsOf,
  * timestampAsOf) plan through [[TxLogFileIndex]] with pruning intact,
  * merge-on-read snapshots keep full semantics through the wrapper
  * relation, writes honor SaveModes + partitionBy, the session catalog
  * holds `USING graft` tables, and the V2 path equals the TVF twin.
  */
class GraftDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def batch(lo: Int, hi: Int, tag: String = "v") = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"$tag-$i")).toDF("id", "payload")
  }

  test("a plain snapshot reads BARE: the user's plan holds the TxLogFileIndex, pruning fires") {
    val root = Zones.tempDir("dsplain")
    (0 until 3).foreach(f => TxLog.commit(spark, root,
      batch(1000 * f, 1000 * f + 1000).coalesce(1), TxLog.Append,
      statsCols = Seq("id")))
    val df = spark.read.format("graft").load(root)
    assert(df.count() === 3000L)
    // the relation in the USER'S plan is the index-backed file source —
    // pushdown and zone-map pruning are visible, not hidden in a wrapper
    val q = df.filter(col("id").between(1100L, 1200L))
    assert(q.count() === 101L)
    assert(TxLogFileIndex.of(q).lastListed.size === 1,
      "zone maps must prune through format(\"graft\")")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(id,1100)"),
      s"parquet pushdown must survive the provider:\n$plan")
  }

  test("versionAsOf / timestampAsOf time-travel through the reader options") {
    val root = Zones.tempDir("dstravel")
    TxLog.append(spark, root, batch(0, 100))
    val tAfterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    TxLog.append(spark, root, batch(100, 250))
    assert(spark.read.format("graft").load(root).count() === 250L)
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(root).count() === 100L)
    assert(spark.read.format("graft")
      .option("timestampAsOf", tAfterV1.toString).load(root).count() === 100L)
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("versionAsOf", "1").option("timestampAsOf", "0").load(root))
  }

  test("merge-on-read state (DVs, column mapping) keeps FULL semantics via the wrapper") {
    val root = Zones.tempDir("dsmor")
    (0 until 2).foreach(f => TxLog.commit(spark, root,
      batch(1000 * f, 1000 * f + 1000).coalesce(1), TxLog.Append,
      statsCols = Seq("id")))
    TxLog.deleteVectors(spark, root, col("id") % 10 === 3L) // 200 gone
    TxLog.renameColumn(root, "payload", "text")
    val df = spark.read.format("graft").load(root)
    assert(df.columns.toSeq === Seq("id", "text"),
      "the column mapping must surface LOGICAL names")
    assert(df.count() === 1800L, "deleted positions must not resurface")
    assert(df.filter(col("id") === 3L).count() === 0L)
    assert(df.filter(col("text") === "v-7").count() === 1L)
    // predicate + projection still push into the wrapper
    val q = df.filter(col("id") > 1500L).select("text")
    assert(q.count() === 449L) // 499 ids above 1500, minus the 50 deleted
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,1500)"),
      s"the wrapper must report its pushed filters:\n$plan")
    // parity with the internal snapshot, row for row
    val a = df.orderBy("id", "text").collect().toSeq
    val b = TxLog.snapshot(spark, root).orderBy("id", "text").collect().toSeq
    assert(a === b)
  }

  test("the V2 read equals its TVF twin, hash for hash") {
    val root = Zones.tempDir("dstvf")
    TxLog.commit(spark, root, batch(0, 500).coalesce(1), TxLog.Append,
      statsCols = Seq("id"))
    TxLog.deleteVectors(spark, root, col("id") >= 450L)
    graft.plans.GraftExtensions.register(spark)
    val viaTvf = spark.sql(s"SELECT * FROM graft_txlog('$root')")
      .orderBy("id").collect().toSeq
    val viaV2 = spark.read.format("graft").load(root)
      .orderBy("id").collect().toSeq
    assert(viaV2 === viaTvf)
  }

  test("writes: append / overwrite / errorIfExists / ignore / partitionBy") {
    val root = Zones.tempDir("dswrite")
    batch(0, 100).write.format("graft").mode("append").save(root)
    batch(100, 150).write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() === 150L)
    intercept[IllegalStateException](
      batch(0, 1).write.format("graft").mode("errorifexists").save(root))
    batch(0, 1).write.format("graft").mode("ignore").save(root) // no-op
    assert(spark.read.format("graft").load(root).count() === 150L)
    batch(500, 520).write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root).count() === 20L)
    assert(TxLog.snapshot(spark, root).count() === 20L,
      "the write path must be the same transaction log the API sees")
    // hive-layout partitioned write via the standard writer surface
    val proot = Zones.tempDir("dswritep")
    import spark.implicits._
    (0 until 90).map(i => (i.toLong, s"g${i % 3}", s"p-$i"))
      .toDF("id", "grp", "payload")
      .write.format("graft").partitionBy("grp").mode("append").save(proot)
    val pdf = spark.read.format("graft").load(proot)
    assert(pdf.count() === 90L)
    val pq = pdf.filter(col("grp") === "g1")
    assert(pq.count() === 30L)
    assert(TxLogFileIndex.of(pq).lastListed
      .forall(_.contains("grp=g1")), "partition pruning must fire")
  }

  test("the session catalog holds USING graft tables") {
    val root = Zones.tempDir("dscat")
    TxLog.commit(spark, root, batch(0, 300).coalesce(1), TxLog.Append,
      statsCols = Seq("id"))
    val tbl = s"graft_cat_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      assert(spark.table(tbl).count() === 300L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $tbl WHERE id < 100")
        .head().getLong(0) === 100L)
      // catalog reads still plan through the index
      val q = spark.table(tbl).filter(col("id") < 100L)
      q.count()
      assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL DML: DELETE / UPDATE / MERGE drive the txlog's row-level APIs") {
    val root = Zones.tempDir("dsdml")
    TxLog.commit(spark, root, batch(0, 100).coalesce(1), TxLog.Append,
      statsCols = Seq("id"))
    val s2 = GraftSession.withDml(spark)
    val tbl = s"graft_dml_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      // DELETE: merge-on-read vectors, no rewrite
      val vDel = s2.sql(s"DELETE FROM $tbl WHERE id >= 90").head().getLong(0)
      assert(vDel === TxLog.headVersion(root))
      assert(TxLog.snapshot(spark, root).count() === 90L)
      // UPDATE: SET may reference other columns
      s2.sql(s"UPDATE $tbl SET payload = concat(payload, '!') WHERE id < 10")
      val snap = TxLog.snapshot(spark, root)
      assert(snap.filter(col("payload") === "v-5!").count() === 1L)
      assert(snap.filter(col("payload") === "v-50").count() === 1L)
      // MERGE: upsert through the file-granular API (the source temp
      // view is session-scoped — it must live in the DML session)
      locally {
        import s2.implicits._
        Seq((5L, "merged"), (200L, "inserted")).toDF("id", "payload")
          .createOrReplaceTempView("dml_src")
      }
      s2.sql(
        s"""MERGE INTO $tbl USING dml_src ON $tbl.id = dml_src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = TxLog.snapshot(spark, root)
      assert(after.count() === 91L)
      assert(after.filter(col("id") === 5L).select("payload")
        .head().getString(0) === "merged")
      assert(after.filter(col("id") === 200L).count() === 1L)
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL DELETE / UPDATE with a BETWEEN predicate") {
    val root = Zones.tempDir("dsbetween")
    TxLog.commit(spark, root, batch(0, 100).coalesce(1), TxLog.Append,
      statsCols = Seq("id"))
    val s2 = GraftSession.withDml(spark)
    val tbl = s"graft_btw_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      s2.sql(s"DELETE FROM $tbl WHERE id BETWEEN 20 AND 29")
      s2.sql(s"UPDATE $tbl SET payload = 'u' WHERE id BETWEEN 95 AND 200")
      val rows = TxLog.snapshot(spark, root).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
      val expected = (0L until 100L).filterNot(i => i >= 20L && i <= 29L)
        .map(i => i -> (if (i >= 95L) "u" else s"v-$i")).toMap
      assert(rows === expected)
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL DELETE / UPDATE with uncorrelated subqueries apply; a correlated one is refused by name") {
    val root = Zones.tempDir("dssubq")
    TxLog.commit(spark, root, batch(0, 10).coalesce(1), TxLog.Append,
      statsCols = Seq("id"))
    val s2 = GraftSession.withDml(spark)
    val tbl = s"graft_subq_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      Seq(
        s"DELETE FROM $tbl WHERE id IN (SELECT 3)",
        s"DELETE FROM $tbl WHERE id IN (SELECT 4 UNION ALL SELECT 5)",
        s"DELETE FROM $tbl WHERE EXISTS (SELECT 1) AND id = 6",
        s"DELETE FROM $tbl WHERE NOT EXISTS (SELECT 1)",
        s"UPDATE $tbl SET payload = (SELECT 'u') WHERE id = 7",
        s"UPDATE $tbl SET payload = 'w' WHERE id IN (SELECT 8)"
      ).foreach(stmt => s2.sql(stmt))
      val rows = TxLog.snapshot(spark, root).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
      assert(rows === Map(0L -> "v-0", 1L -> "v-1", 2L -> "v-2", 7L -> "u",
        8L -> "w", 9L -> "v-9"))
      val head = TxLog.headVersion(root)
      val feed = TxLog.changes(spark, root, 1L, head, withChangeType = true)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(feed === Map("delete" -> 4L, "update_preimage" -> 2L,
        "update_postimage" -> 2L))

      // a correlated subquery's outer reference sits inside its plan,
      // where re-binding cannot reach: refused, the table unchanged
      val before = TxLog.snapshot(spark, root).collect().toSet
      Seq(
        s"DELETE FROM $tbl WHERE EXISTS (SELECT 1 FROM $tbl u WHERE u.id = $tbl.id + 1)",
        s"UPDATE $tbl SET payload = (SELECT max(u.payload) FROM $tbl u " +
          s"WHERE u.id = $tbl.id - 1) WHERE id = 2"
      ).foreach { stmt =>
        val e = intercept[UnsupportedOperationException](s2.sql(stmt))
        assert(e.getMessage.contains("correlated subquery"), s"$stmt: ${e.getMessage}")
      }
      assert(TxLog.headVersion(root) === head)
      assert(TxLog.snapshot(spark, root).collect().toSet === before)
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a filter inside a DELETE's subquery never prunes the target's files") {
    import spark.implicits._
    val root = Zones.tempDir("dssubqprune")
    TxLog.commit(spark, root,
      (1 to 10).map(i => (i.toLong, s"v-$i")).toDF("my id", "payload").coalesce(1),
      TxLog.Append, statsCols = Seq("my id"))
    // the subquery's relation has a `my id` column too, and its filter
    // `my id` > 100 excludes every zone of the target's one file
    val srcDir = Zones.tempDir("dssubqsrc")
    Seq((200L, 1L)).toDF("my id", "k2").write.parquet(srcDir)
    val s2 = GraftSession.withDml(spark)
    s2.read.parquet(srcDir).createOrReplaceTempView("subq_src")
    val tbl = s"graft_subqp_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      s2.sql(s"DELETE FROM $tbl WHERE `my id` IN (SELECT k2 FROM subq_src WHERE `my id` > 100)")
      val ids = TxLog.snapshot(spark, root).select("my id").as[Long].collect().toSet
      assert(ids === (2L to 10L).toSet)
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL INSERT: append, overwrite, and atomic partition replace through the log") {
    val root = Zones.tempDir("dsins")
    import spark.implicits._
    (0 until 60).map(i => (i.toLong, s"g${i % 3}", s"p-$i"))
      .toDF("id", "grp", "payload")
      .write.format("graft").partitionBy("grp").mode("append").save(root)
    TxLog.compact(spark, root, statsCols = Seq("id")) // give files id stats
    val s2 = GraftSession.withDml(spark)
    val tbl = s"graft_ins_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      // INSERT INTO, positional with a cast (int literal → long column)
      // — positional order is the VISIBLE schema: (id, payload, grp),
      // partition column last, exactly what SELECT * shows
      s2.sql(s"INSERT INTO $tbl VALUES (100, 'ins-100', 'g0'), (101, 'ins-101', 'g1')")
      assert(TxLog.snapshot(spark, root).count() === 62L)
      assert(TxLog.snapshot(spark, root)
        .filter(col("payload") === "ins-100").select("grp")
        .head().getString(0) === "g0")
      // static PARTITION spec: the value is injected, files land in k=v
      s2.sql(s"INSERT INTO $tbl PARTITION (grp='g9') SELECT 200, 'ins-200'")
      val r1 = TxLog.replay(root, TxLog.headVersion(root))
      assert(r1.entries.exists(_.path.contains("grp=g9")))
      // SQL-inserted files inherit the table's recorded stats columns
      assert(r1.entries.filter(_.path.contains("grp=g9"))
        .forall(_.stats.contains("id")),
        "INSERT-written files must carry the ledger's zone-map columns")
      // INSERT OVERWRITE PARTITION replaces exactly one partition; every
      // other partition's files carry BY REFERENCE (same entry paths)
      val before = TxLog.replay(root, TxLog.headVersion(root))
      val keepPaths = before.entries.filterNot(_.path.contains("grp=g1"))
        .map(_.path).toSet
      s2.sql(s"INSERT OVERWRITE $tbl PARTITION (grp='g1') SELECT 300, 'only-g1'")
      val after = TxLog.replay(root, TxLog.headVersion(root))
      assert(after.entries.map(_.path).toSet.filterNot(_.contains("grp=g1"))
        === keepPaths, "untouched partitions must carry by reference")
      val g1 = TxLog.snapshot(spark, root).filter(col("grp") === "g1")
      assert(g1.count() === 1L && g1.select("payload").head().getString(0) === "only-g1")
      // 21 g0 (incl ins-100) + 20 g2 + 1 g9 + 1 new g1
      assert(TxLog.snapshot(spark, root).count() === 43L)
      // full INSERT OVERWRITE resets the table, keeping the layout
      s2.sql(s"INSERT OVERWRITE $tbl VALUES (1, 'fresh', 'g0')")
      assert(TxLog.snapshot(spark, root).count() === 1L)
      assert(TxLog.replay(root, TxLog.headVersion(root))
        .entries.forall(_.path.contains("grp=g0")))
      // rejected shapes fail loudly, not silently
      val dynErr = intercept[Exception](
        s2.sql(s"INSERT OVERWRITE $tbl PARTITION (grp) SELECT 1, 'x', 'g0'"))
      assert(dynErr.getMessage.contains("dynamic-partition overwrite"))
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("an extension-less INSERT can NEVER bypass (or destroy) the log") {
    val root = Zones.tempDir("dspoison")
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, s"g${i % 2}", s"p-$i"))
      .toDF("id", "grp", "payload")
      .write.format("graft").partitionBy("grp").mode("append").save(root)
    val tbl = s"graft_ro_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try {
      // without GraftDmlExtensions, Spark resolves an INSERT on the
      // bare relation to its direct-to-path command — which DELETES the
      // overwritten paths (on a full overwrite, the table root
      // INCLUDING the log) before writing. The guarded index forces an
      // ANALYSIS-TIME refusal instead: loud, zero mutation.
      val before = TxLog.replay(root, TxLog.headVersion(root))
      def refused(sql: String): Unit = {
        val e = intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(sql))
        assert(e.getMessage.toLowerCase.contains("path"), s"got: $e")
      }
      refused(s"INSERT INTO $tbl VALUES (999, 'ghost', 'g0')")
      refused(s"INSERT OVERWRITE $tbl VALUES (1, 'boom', 'g0')")
      refused(s"INSERT OVERWRITE $tbl PARTITION (grp='g0') VALUES (1, 'boom')")
      assert(TxLog.headVersion(root) === 1L, "no commit may publish")
      assert(TxLog.snapshot(spark, root).count() === 50L, "no rows may land")
      val store = graft.io.LogStore.forRoot(root)
      before.entries.foreach(en => assert(store.exists(s"$root/${en.path}"),
        s"data file ${en.path} must survive the refused insert"))
      // the SAME statement through the DML session commits through the
      // log — the extensions posture (Delta's: SQL DML rides extensions)
      val s2 = GraftSession.withDml(spark)
      s2.sql(s"INSERT INTO $tbl VALUES (999, 'ghost', 'g0')")
      assert(TxLog.headVersion(root) === 2L)
      assert(TxLog.snapshot(spark, root)
        .filter(col("payload") === "ghost").count() === 1L)
      // an extension-less INSERT INTO a MERGE-ON-READ table (wrapper
      // relation, no case-class copy in the catalog cache) goes through
      // InsertableRelation — transactional even without extensions
      TxLog.deleteVectors(spark, root, col("id") === 0L) // v3: make MoR
      val tbl2 = s"graft_mor_${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
      spark.sql(s"CREATE TABLE $tbl2 USING graft LOCATION '$root'")
      try {
        spark.sql(s"INSERT INTO $tbl2 VALUES (1000, 'viaIR', 'g0')")
        assert(TxLog.headVersion(root) === 4L, "the insert must be a commit")
        assert(TxLog.snapshot(spark, root)
          .filter(col("payload") === "viaIR").count() === 1L)
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl2")
      // defense in depth: the bare relation's file format refuses
      // direct writes even if some future path reaches it
      intercept[UnsupportedOperationException](
        new GraftReadOnlyParquetFormat().prepareWrite(spark, null, Map.empty,
          new org.apache.spark.sql.types.StructType))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("streaming reads and writes under the same format string, exactly once") {
    val src = Zones.tempDir("dsstream_src")
    val dst = Zones.tempDir("dsstream_dst")
    val ck = java.nio.file.Files.createTempDirectory("dsstream_ck").toString
    TxLog.append(spark, src, batch(0, 10))  // v1
    TxLog.append(spark, src, batch(10, 25)) // v2
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft").load(src)
        .filter(col("id") % 2 === 0)
        .select(col("id"), col("payload"))
        .writeStream
        .format("graft")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start(dst)
      q.awaitTermination()
    }
    drain()
    assert(spark.read.format("graft").load(dst).count() === 13L)
    TxLog.append(spark, src, batch(25, 30)) // v3: catch-up on the same ck
    drain()
    val out = spark.read.format("graft").load(dst)
    assert(out.count() === 15L, "exactly the v3 delta must append")
    assert(out.agg(sum(col("id"))).head().getLong(0) ===
      (0 until 30 by 2).sum.toLong)
  }
}
