package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Identity columns ([[ManifestIdentity]]) — the invariants behind
  * q_identity_col, plus the refusal surface the query cannot gate:
  *
  *  - generation is per-task-range unique (no cross-task clashes at
  *    any parallelism) and step-aligned from START;
  *  - the high-water mark is DERIVED from committed stats: a restore
  *    rewinds it (Delta restore semantics), a logical truncate does
  *    NOT (pre-truncate snapshots stay readable, their ids stay
  *    burned);
  *  - GENERATED ALWAYS refuses explicit values; BY DEFAULT keeps
  *    them and keeps generating around them;
  *  - CTAS/RTAS and streaming sinks refuse identity tables loudly.
  */
class IdentitySpec extends SparkSpec {

  private def freshCat(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-id-$tag-").toString
    spark.conf.set(s"spark.sql.catalog.idc$tag",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.idc$tag.warehouse", wh)
    s"idc$tag"
  }

  test("generated values are unique, aligned, and resume above the committed mark") {
    val c = freshCat("a")
    spark.sql(s"CREATE TABLE $c.wh.t (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 50 INCREMENT BY 5), v BIGINT)")
    spark.range(0, 100).createOrReplaceTempView("idsrc_a")
    spark.sql(s"INSERT INTO $c.wh.t (v) " +
      "SELECT id FROM idsrc_a DISTRIBUTE BY id % 8")
    val r1 = spark.sql(s"SELECT count(*) AS n, count(DISTINCT id) AS d, " +
      s"min(id) AS mn, max(id) AS mx, " +
      s"bool_and((id - 50) % 5 = 0) AS al FROM $c.wh.t").head
    assert(r1.getLong(0) === 100L && r1.getLong(1) === 100L,
      "ids must be unique across 8 write tasks")
    assert(r1.getLong(2) === 50L && r1.getBoolean(4),
      "partition 0 starts at START; all ids step-aligned")
    val mx1 = r1.getLong(3)
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (1001), (1002)")
    val mn2 = spark.sql(
      s"SELECT min(id) FROM $c.wh.t WHERE v IN (1001, 1002)")
      .head.getLong(0)
    assert(mn2 > mx1, "second commit resumes above the derived mark")
  }

  test("restore and truncate both rewind the derived mark (stats-derived contract)") {
    val c = freshCat("b")
    spark.sql(s"CREATE TABLE $c.wh.t (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, v BIGINT)")
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (1)") // v2: id = 1
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (2)") // v3: id > 1
    val mx = spark.sql(s"SELECT max(id) FROM $c.wh.t").head.getLong(0)
    spark.sql(s"CALL $c.system.rollback(table => 'wh.t', version => 2)")
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (3)")
    val restored = spark.sql(
      s"SELECT max(id) FROM $c.wh.t WHERE v = 3").head.getLong(0)
    assert(restored <= mx,
      "restore rewinds the mark with the part list (stats-derived)")
    // the mark is DERIVED from the head's parts, so a logical
    // truncate (empty part list) rewinds it to START too — ids may
    // repeat across truncation epochs but stay unique WITHIN every
    // snapshot, which is the uniqueness a surrogate key needs
    // (pre-truncate snapshots are separate time-travel worlds)
    spark.sql(s"TRUNCATE TABLE $c.wh.t")
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (4)")
    val afterTrunc = spark.sql(s"SELECT min(id) FROM $c.wh.t")
      .head.getLong(0)
    assert(afterTrunc === 1L,
      "empty head part list derives the mark back to START")
    val uniqueNow = spark.sql(
      s"SELECT count(*) = count(DISTINCT id) FROM $c.wh.t")
      .head.getBoolean(0)
    assert(uniqueNow)
  }

  test("BY DEFAULT keeps explicit values and generates around them") {
    val c = freshCat("c")
    spark.sql(s"CREATE TABLE $c.wh.d (id BIGINT GENERATED BY DEFAULT " +
      "AS IDENTITY (START WITH 10 INCREMENT BY 1), v BIGINT)")
    spark.sql(s"INSERT INTO $c.wh.d VALUES (500, 1), (NULL, 2)")
    val rows = spark.sql(s"SELECT id, v FROM $c.wh.d ORDER BY v")
      .collect()
    assert(rows(0).getLong(0) === 500L, "explicit value kept")
    assert(!rows(1).isNullAt(0) && rows(1).getLong(0) >= 10L,
      "NULL slot generated")
    // next commit's mark derives from ALL committed ids incl. the
    // explicit 500 — generation never re-issues it
    spark.sql(s"INSERT INTO $c.wh.d (v) VALUES (3)")
    val next = spark.sql(s"SELECT id FROM $c.wh.d WHERE v = 3")
      .head.getLong(0)
    assert(next > 500L, "explicit values raise the derived mark")
  }

  test("row-level MERGE INSERT refuses to fabricate computed values; UPDATE flows") {
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    for (mode <- Seq("cow", "mor")) {
      val c = freshCat(s"m$mode")
      spark.sql(s"CREATE TABLE $c.wh.t (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, v BIGINT)")
      spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (10), (20)")
      spark.range(0, 2).selectExpr("id * 10 + 10 AS mv", "id + 77 AS nv")
        .createOrReplaceTempView("graft_idm_src")
      if (mode == "mor") spark.conf.set("graft.delete.mode", "mor")
      try {
        // UPDATE-only merge carries committed ids — must flow
        spark.sql(s"""MERGE INTO $c.wh.t t USING graft_idm_src s
          ON t.v = s.mv WHEN MATCHED THEN UPDATE SET v = s.nv""")
        assert(spark.sql(s"SELECT count(*) FROM $c.wh.t " +
          "WHERE v IN (77, 78)").head.getLong(0) === 2L)
        assert(spark.sql(s"SELECT count_if(id IS NULL) FROM $c.wh.t")
          .head.getLong(0) === 0L, s"$mode update kept ids")
        // INSERT-ONLY merge: Spark plans it as a plain append, so it
        // rides the batch write builder and generation WORKS
        spark.sql(s"""MERGE INTO $c.wh.t t USING graft_idm_src s
          ON t.v = s.mv + 1000
          WHEN NOT MATCHED THEN INSERT (v) VALUES (s.nv + 500)""")
        assert(spark.sql(s"SELECT count_if(id IS NULL) FROM $c.wh.t " +
          "WHERE v >= 500").head.getLong(0) === 0L,
          s"$mode insert-only merge must generate ids")
        // MIXED merge (update + insert) takes the row-level path,
        // which cannot generate — loud refusal, nothing commits
        val before = spark.sql(s"SELECT count(*) FROM $c.wh.t")
          .head.getLong(0)
        val ex = intercept[Exception] {
          spark.sql(s"""MERGE INTO $c.wh.t t USING graft_idm_src s
            ON t.v = s.mv + 2000
            WHEN MATCHED THEN UPDATE SET v = s.nv
            WHEN NOT MATCHED THEN INSERT (v) VALUES (s.nv + 900)""")
        }
        assert(chain(ex).exists(m =>
          m != null && m.contains("MERGE INSERT")),
          s"$mode: expected the computed-column guard, got " +
            ex.getMessage)
        assert(spark.sql(s"SELECT count(*) FROM $c.wh.t")
          .head.getLong(0) === before, s"$mode refusal must not commit")
      } finally if (mode == "mor") spark.conf.unset("graft.delete.mode")
    }
  }

  test("CTAS staging and streaming sinks refuse identity tables loudly") {
    val c = freshCat("d")
    // staged CTAS/RTAS: identity arrives as a first-class v2 Column
    // attribute — the staging path refuses before any write
    import org.apache.spark.sql.connector.catalog.{Column => V2Column, Identifier, IdentityColumnSpec}
    import org.apache.spark.sql.types.LongType
    val cat = spark.sessionState.catalogManager.catalog(c)
      .asInstanceOf[GraftCatalog]
    val cols = Array(
      V2Column.create("id", LongType, false, null,
        new IdentityColumnSpec(1L, 1L, false), null),
      V2Column.create("v", LongType))
    val ctas = intercept[UnsupportedOperationException] {
      cat.stageCreate(Identifier.of(Array("wh"), "x"), cols,
        Array.empty, new java.util.HashMap[String, String]())
    }
    assert(ctas.getMessage.contains("CTAS"))
    // streaming sink: the write builder refuses at query start
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.streaming.Trigger
    spark.sql(s"CREATE TABLE $c.wh.s (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, v BIGINT)")
    val src = Files.createTempDirectory("graft-id-src-").toString
    spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graft.sources.ManifestSource")
      .option("path", src)
      .mode("overwrite").save()
    val ex = intercept[Exception] {
      val q = spark.readStream
        .format("graft.sources.ManifestSource").option("path", src).load()
        .select(lit(null).cast("bigint").as("id"), col("v"))
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft-id-ck-").toString)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$c.wh.s")
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m => m != null && m.contains("identity")),
      s"expected the identity refusal, got: ${ex.getMessage}")
  }

  test("a path append generates NULL ids and refuses explicit ones under ALWAYS") {
    val c = freshCat("p")
    spark.sql(s"CREATE TABLE $c.wh.t (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, v BIGINT)")
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (1), (2)")
    val dir = spark.conf.get(s"spark.sql.catalog.$c.warehouse") + "/wh/t"
    def append(id: String): Unit =
      spark.range(3, 6).selectExpr(s"CAST($id AS BIGINT) AS id", "id AS v")
        .write.format("graft.sources.ManifestSource").option("path", dir)
        .mode("append").save()
    append("NULL")
    val r = spark.sql(s"SELECT count(*), count(id), count(DISTINCT id) " +
      s"FROM $c.wh.t").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 5L, 5L)),
      "a path append fills every NULL id with a fresh one")
    def head = ManifestLog(spark.sessionState.newHadoopConf(), dir).head
    val before = head
    val ex = intercept[Exception](append("1"))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: chain(e.getCause))
    assert(chain(ex).exists(_.contains("GENERATED ALWAYS AS IDENTITY")),
      s"expected the identity refusal, got: ${ex.getMessage}")
    assert(head === before, "a refused path append must commit nothing")
  }
}
