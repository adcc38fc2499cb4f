package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** DDL/DML surface of the V2 TableCatalog (sources/GraftCatalog.scala).
  * The read/write/aggregate answer is oracle-gated via q_sql_catalog;
  * these pin what SQL-only paths must do: CREATE/DROP/list, INSERT
  * OVERWRITE as logical truncate, snapshot time travel from SQL, and
  * the commit-point existence rule. */
class CatalogSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-catspec").toString
    spark.conf.set("spark.sql.catalog.gcs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcs.warehouse", d)
    d
  }

  test("CREATE TABLE publishes a schema-only snapshot; table is empty and listed") {
    wh
    spark.sql("CREATE TABLE gcs.ns.fresh (k BIGINT, s STRING)")
    assert(spark.sql("SELECT * FROM gcs.ns.fresh").count() === 0)
    assert(spark.sql("SELECT * FROM gcs.ns.fresh").schema.fieldNames.toSeq
      === Seq("k", "s"))
    val listed = spark.sql("SHOW TABLES IN gcs.ns").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(listed.contains("fresh"))
    // CREATE on an existing table must fail, not silently truncate
    intercept[Exception] {
      spark.sql("CREATE TABLE gcs.ns.fresh (k BIGINT)")
    }
  }

  test("namespace DDL: create/list/describe/alter; DROP refuses " +
      "non-empty without CASCADE; CASCADE drops; names don't collide " +
      "with tables") {
    wh
    spark.sql("CREATE NAMESPACE gcs.nsa WITH PROPERTIES ('tier' = 'x')")
    spark.sql("CREATE NAMESPACE gcs.nsb")
    // an empty created namespace is listable (the sidecar marker)
    val listed = spark.sql("SHOW NAMESPACES IN gcs").collect()
      .map(_.getString(0)).toSet
    assert(listed.contains("nsa") && listed.contains("nsb"))
    // double-create fails loudly
    intercept[Exception] { spark.sql("CREATE NAMESPACE gcs.nsa") }
    // properties round-trip through ALTER
    spark.sql("ALTER NAMESPACE gcs.nsa SET PROPERTIES ('tier' = 'y')")
    assert(spark.sql("DESCRIBE NAMESPACE EXTENDED gcs.nsa").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
      .matches("(?s).*tier.*y.*"))
    // non-empty refuses without CASCADE — the load-bearing guard
    spark.sql("CREATE TABLE gcs.nsa.t (k BIGINT)")
    spark.sql("INSERT INTO gcs.nsa.t VALUES (1), (2)")
    intercept[Exception] { spark.sql("DROP NAMESPACE gcs.nsa") }
    assert(spark.sql("SELECT count(*) FROM gcs.nsa.t").head.getLong(0)
      === 2L, "the refused drop must leave the table intact")
    spark.sql("DROP NAMESPACE gcs.nsa CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gcs").collect()
      .map(_.getString(0)).contains("nsa"))
    // empty namespace drops without CASCADE
    spark.sql("DROP NAMESPACE gcs.nsb")
    // a TABLE directory is not a namespace
    spark.sql("CREATE TABLE gcs.ns.nott (k BIGINT)")
    assert(!spark.sql("SHOW NAMESPACES IN gcs.ns").collect()
      .map(_.getString(0)).contains("nott"))
  }

  test("CTAS commits as ONE snapshot; RTAS atomically replaces with " +
    "time travel intact; a FAILED CTAS leaves no table and a FAILED " +
    "RTAS leaves the old head untouched") {
    wh
    import spark.implicits._
    (0L until 100L).map(i => (i, s"g${i % 4}")).toDF("k", "g")
      .createOrReplaceTempView("gcs_ctas_src")
    spark.sql("CREATE TABLE gcs.ns.cts AS SELECT k, g FROM gcs_ctas_src")
    assert(spark.sql("SELECT count(*) FROM gcs.ns.cts").head.getLong(0)
      === 100L)
    assert(spark.sql("SELECT count(*) FROM gcs.ns.cts.history")
      .head.getLong(0) === 1L, "CTAS is one produce-and-publish commit")
    // RTAS: new schema, one truncate-style commit, history preserved
    spark.sql("REPLACE TABLE gcs.ns.cts AS SELECT g, count(*) AS n " +
      "FROM gcs_ctas_src GROUP BY g")
    assert(spark.sql("SELECT * FROM gcs.ns.cts").schema.fieldNames.toSeq
      === Seq("g", "n"))
    assert(spark.sql("SELECT CAST(sum(n) AS BIGINT) FROM gcs.ns.cts")
      .head.getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) FROM gcs.ns.cts VERSION AS OF 1")
      .head.getLong(0) === 100L, "pre-replace snapshot readable")
    // FAILED RTAS: the query errors mid-run → old head untouched,
    // version log unchanged (no half-replaced state ever visible)
    val vBefore = spark.sql("SELECT count(*) FROM gcs.ns.cts.history")
      .head.getLong(0)
    intercept[Exception] {
      spark.sql("REPLACE TABLE gcs.ns.cts AS " +
        "SELECT g, raise_error('rtas boom') AS n FROM gcs_ctas_src")
    }
    assert(spark.sql("SELECT CAST(sum(n) AS BIGINT) FROM gcs.ns.cts")
      .head.getLong(0) === 100L, "old table serves after failed RTAS")
    assert(spark.sql("SELECT count(*) FROM gcs.ns.cts.history")
      .head.getLong(0) === vBefore, "no version committed by the failure")
    // FAILED CTAS: no manifest was ever committed → not a table
    intercept[Exception] {
      spark.sql("CREATE TABLE gcs.ns.ctsfail AS " +
        "SELECT raise_error('ctas boom') AS x FROM gcs_ctas_src")
    }
    intercept[Exception] { spark.sql("SELECT * FROM gcs.ns.ctsfail") }
    // CTAS with a layout: the target is born bucketed (spec persisted,
    // inserts keep routing through it)
    spark.sql("CREATE TABLE gcs.ns.ctsb PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT k, g FROM gcs_ctas_src")
    assert(spark.sql("SELECT count(DISTINCT bucket) FROM " +
      "gcs.ns.ctsb.files WHERE bucket >= 0").head.getLong(0) === 4L,
      "CTAS wrote through the bucketed writer")
  }

  test("SHOW PARTITIONS / ALTER TABLE DROP PARTITION on identity-split " +
    "tables: exact metadata listing, metadata-only drop, straddler " +
    "refusal, time travel intact") {
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE gcs.ns.sp (k BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("k", "g")
      .createOrReplaceTempView("gcs_sp_src")
    spark.sql("INSERT INTO gcs.ns.sp SELECT * FROM gcs_sp_src")
    val parts = spark.sql("SHOW PARTITIONS gcs.ns.sp").collect()
      .map(_.getString(0)).toSeq
    assert(parts === Seq("g=g0", "g=g1", "g=g2"), s"got $parts")
    assert(spark.sql(
      "SHOW PARTITIONS gcs.ns.sp PARTITION (g = 'g1')").collect()
      .map(_.getString(0)).toSeq === Seq("g=g1"))
    // metadata-only drop: value's parts stop being listed, no file
    // rewritten, history gains a drop-partition version
    val filesBefore = spark.sql("SELECT count(*) FROM gcs.ns.sp.files")
      .head.getLong(0)
    spark.sql("ALTER TABLE gcs.ns.sp DROP PARTITION (g = 'g1')")
    assert(spark.sql("SELECT count(*) FROM gcs.ns.sp").head.getLong(0)
      === 200L)
    assert(spark.sql("SHOW PARTITIONS gcs.ns.sp").collect()
      .map(_.getString(0)).toSeq === Seq("g=g0", "g=g2"))
    assert(spark.sql("SELECT count(*) FROM gcs.ns.sp.files")
      .head.getLong(0) < filesBefore, "parts dropped, none rewritten")
    assert(spark.sql("SELECT operation FROM gcs.ns.sp.history " +
      "ORDER BY version DESC LIMIT 1").head.getString(0)
      === "drop-partition")
    // pre-drop snapshot still serves the partition
    assert(spark.sql("SELECT count(*) FROM gcs.ns.sp VERSION AS OF 2")
      .head.getLong(0) === 300L)
    // straddler refusal: a table whose layout was set AFTER plain
    // writes has pre-layout parts that may hold the value — the drop
    // must refuse and name the compact fix
    spark.sql("CREATE TABLE gcs.ns.spm (k BIGINT, g STRING)")
    spark.sql("INSERT INTO gcs.ns.spm SELECT * FROM gcs_sp_src")
    spark.sql("CALL gcs.system.set_layout(table => 'ns.spm', " +
      "spec => 'g')")
    spark.sql("INSERT INTO gcs.ns.spm SELECT k + 1000, g " +
      "FROM gcs_sp_src")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcs.ns.spm DROP PARTITION (g = 'g1')")
    }
    assert(e.getMessage.contains("compact"),
      s"refusal must name the fix, got: ${e.getMessage}")
    // an unpartitioned table reports no partition management at all
    spark.sql("CREATE TABLE gcs.ns.spnone (k BIGINT)")
    val e2 = intercept[Exception] {
      spark.sql("SHOW PARTITIONS gcs.ns.spnone").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("partition"),
      s"got: ${e2.getMessage}")
  }

  test("ALTER TABLE RENAME TO: one directory move — history, layout, " +
    "properties, tags all survive under the new name; old name gone") {
    wh
    spark.sql("CREATE TABLE gcs.ns.rn_old (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('team' = 'x')")
    spark.sql("INSERT INTO gcs.ns.rn_old VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gcs.ns.rn_old VALUES (3, 'c')")
    spark.sql("CALL gcs.system.tag(table => 'ns.rn_old', " +
      "name => 'v2tag', version => 2)")
    spark.sql("ALTER TABLE gcs.ns.rn_old RENAME TO ns.rn_new")
    // a REAL data scan (not the metadata count path): the manifests'
    // absolute part paths must have been re-pointed by the rename
    assert(spark.sql("SELECT k, s FROM gcs.ns.rn_new ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "post-rename scans must read the moved part files")
    assert(spark.sql("SELECT count(*) FROM gcs.ns.rn_new")
      .head.getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM gcs.ns.rn_new VERSION AS OF 2")
      .head.getLong(0) === 2L, "history survives the rename")
    assert(spark.sql(
      "SELECT count(*) FROM gcs.ns.rn_new VERSION AS OF 'v2tag'")
      .head.getLong(0) === 2L, "tags survive the rename")
    assert(spark.sql("SHOW TBLPROPERTIES gcs.ns.rn_new").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      .get("team").contains("x"), "properties survive the rename")
    intercept[Exception] { spark.sql("SELECT * FROM gcs.ns.rn_old").collect() }
    // renaming onto an existing table must refuse
    spark.sql("CREATE TABLE gcs.ns.rn_tgt (k BIGINT)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gcs.ns.rn_new RENAME TO ns.rn_tgt")
    }
    assert(spark.sql("SELECT count(*) FROM gcs.ns.rn_new")
      .head.getLong(0) === 3L, "failed rename leaves the source intact")
  }

  test("ALTER TABLE RENAME TO re-points part paths only: a row whose " +
    "string value is the old table path still matches after the move") {
    wh
    val oldPath = s"$wh/ns/rn_self"
    spark.sql("CREATE TABLE gcs.ns.rn_self (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO gcs.ns.rn_self VALUES (1, '$oldPath')")
    spark.sql("ALTER TABLE gcs.ns.rn_self RENAME TO ns.rn_self_moved")
    // the part's string stats (smin/smax) hold the old path as USER
    // data: re-pointing them would prune the only part away
    assert(spark.sql("SELECT count(*) FROM gcs.ns.rn_self_moved " +
      s"WHERE s = '$oldPath'").head.getLong(0) === 1L)
  }

  test("TBLPROPERTIES: create/SET/UNSET round-trip, COMMENT ON TABLE " +
    "rides the comment key, CTAS carries them, RTAS replaces them") {
    wh
    spark.sql("CREATE TABLE gcs.ns.props (k BIGINT) " +
      "TBLPROPERTIES ('a' = '1') COMMENT 'first'")
    def props(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.catalogManager.catalog("gcs")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("ns"), "props")).properties().asScala.toMap
    }
    assert(props().get("a").contains("1"))
    assert(props().get("comment").contains("first"))
    spark.sql("COMMENT ON TABLE gcs.ns.props IS 'second'")
    assert(props().get("comment").contains("second"))
    spark.sql("ALTER TABLE gcs.ns.props UNSET TBLPROPERTIES ('a')")
    assert(!props().contains("a"))
    // UNSET of a missing key with IF EXISTS is a no-op, not an error
    spark.sql(
      "ALTER TABLE gcs.ns.props UNSET TBLPROPERTIES IF EXISTS ('zz')")
    // CTAS carries properties; RTAS replaces them wholesale
    spark.sql("CREATE TABLE gcs.ns.propsc TBLPROPERTIES ('src' = 'ctas') " +
      "AS SELECT 1 AS x")
    val show = spark.sql("SHOW TBLPROPERTIES gcs.ns.propsc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(show.get("src").contains("ctas"))
    spark.sql("REPLACE TABLE gcs.ns.propsc TBLPROPERTIES ('src' = 'rtas') " +
      "AS SELECT 2 AS y")
    val show2 = spark.sql("SHOW TBLPROPERTIES gcs.ns.propsc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(show2.get("src").contains("rtas") && show2.size === 1,
      s"RTAS must replace the property set, got $show2")
  }

  test("INSERT INTO appends a snapshot; INSERT OVERWRITE logically truncates") {
    wh
    spark.sql("CREATE TABLE gcs.ns.dml (k BIGINT, s STRING)")
    spark.sql("INSERT INTO gcs.ns.dml VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gcs.ns.dml VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM gcs.ns.dml").count() === 3)
    spark.sql("INSERT OVERWRITE gcs.ns.dml VALUES (9, 'z')")
    val rows = spark.sql("SELECT k, s FROM gcs.ns.dml").collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 9L)
    // ...but history survives the overwrite: the pre-overwrite
    // snapshot (v3 = create + 2 inserts) still reads all 3 rows
    assert(spark.sql("SELECT * FROM gcs.ns.dml VERSION AS OF 3").count() === 3)
    assert(spark.sql("SELECT * FROM gcs.ns.dml VERSION AS OF 2").count() === 2)
  }

  test("filters push down through catalog-loaded scans (part pruning intact)") {
    wh
    import spark.implicits._
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(8, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/pruned")
      .mode("overwrite").save()
    val df = spark.sql("SELECT k FROM gcs.ns.pruned WHERE k = 17")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(17L))
    // the catalog table plans through ManifestScan: the point lookup
    // must open a strict subset of the 8 parts (bloom + range stats)
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ManifestScan")).getOrElse("")
    val parts = "parts=(\\d+)/(\\d+)".r.findFirstMatchIn(scanLine)
    assert(parts.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"expected pruned scan, got: $scanLine")
  }

  test("DROP TABLE removes it; existence follows the committed-manifest rule") {
    wh
    spark.sql("CREATE TABLE gcs.ns.gone (k BIGINT)")
    assert(spark.catalog.tableExists("gcs.ns.gone") ||
      spark.sql("SHOW TABLES IN gcs.ns").collect()
        .exists(_.getAs[String]("tableName") == "gone"))
    spark.sql("DROP TABLE gcs.ns.gone")
    intercept[Exception] { spark.sql("SELECT * FROM gcs.ns.gone").collect() }
    // a directory without a committed manifest is NOT a table
    Files.createDirectories(java.nio.file.Paths.get(wh, "ns", "halfmade"))
    intercept[Exception] { spark.sql("SELECT * FROM gcs.ns.halfmade").collect() }
  }

  test("DELETE FROM: metadata-only on part-aligned ranges; COW on straddles; " +
      "row-level rewrite on untranslatable shapes") {
    wh
    import spark.implicits._
    // range-partitioned layout: each part owns a disjoint key range,
    // so retention deletes are decidable from manifest stats alone
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/del")
      .mode("overwrite").save()
    val conf = spark.sessionState.newHadoopConf()
    val partsBefore = graft.sources.ManifestLog(conf, s"$wh/ns/del").snapshot().partRanges
    assert(partsBefore.size === 4)
    // cut at the last part's kMin: that part is provably all-match,
    // every other part provably none-match
    val cut = partsBefore.map(_._3).max
    val dropped = partsBefore.filter(_._3 >= cut).map(_._2).sum
    val filesBefore = new java.io.File(s"$wh/ns/del").listFiles()
      .count(_.getName.startsWith("part-"))

    spark.sql(s"DELETE FROM gcs.ns.del WHERE k >= $cut")
    assert(spark.sql("SELECT * FROM gcs.ns.del").count() === 1000 - dropped)
    // metadata-only: no data file was touched, and time travel still
    // reads the pre-delete snapshot in full
    val filesAfter = new java.io.File(s"$wh/ns/del").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(filesAfter === filesBefore, "DELETE must not touch data files")
    assert(spark.sql("SELECT * FROM gcs.ns.del VERSION AS OF 1").count() === 1000)

    // a range straddling a part is not stats-decidable → COPY-ON-WRITE:
    // only the straddling part is rewritten; disjoint parts carry
    // their files forward BY REFERENCE (same paths in the new
    // snapshot), and the superseded file stays on disk for time travel
    val straddle = partsBefore.map(_._3).filter(_ < cut).max + 1
    def headParts() = graft.sources.ManifestLog(conf, s"$wh/ns/del").snapshot().partRanges.map(_._1).toSet
    val untouchedExpected = headParts().filter { p =>
      partsBefore.exists(b => b._1 == p && b._4 < straddle)
    }
    spark.sql(s"DELETE FROM gcs.ns.del WHERE k >= $straddle")
    assert(spark.sql("SELECT * FROM gcs.ns.del").count() === straddle)
    val afterStraddle = headParts()
    assert(untouchedExpected.subsetOf(afterStraddle),
      "disjoint parts must carry forward by reference, not be rewritten")
    assert((afterStraddle -- untouchedExpected).size === 1,
      "exactly the straddling part must be rewritten")
    val filesAfterCow = new java.io.File(s"$wh/ns/del").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(filesAfterCow === filesBefore + 1,
      "COW adds the rewritten part and never deletes data files")
    assert(spark.sql("SELECT * FROM gcs.ns.del VERSION AS OF 1").count() === 1000)

    // a non-key predicate COWs every part (no stats can exclude any)
    spark.sql("DELETE FROM gcs.ns.del WHERE s = 'v3'")
    assert(spark.sql("SELECT * FROM gcs.ns.del").count() === straddle - 1)
    assert(spark.sql("SELECT * FROM gcs.ns.del VERSION AS OF 1").count() === 1000)

    // an untranslatable predicate escalates to the GROUP-BASED
    // row-level rewrite (RowLevelSpec pins its footprint) — before
    // SupportsRowLevelOperations this shape was an analysis error
    spark.sql("DELETE FROM gcs.ns.del WHERE k + 1 = 400")
    assert(spark.sql("SELECT * FROM gcs.ns.del").count() === straddle - 2)
    assert(spark.sql("SELECT * FROM gcs.ns.del WHERE k = 399").count() === 0)
  }

  /** One single-part append per key set, non-nullable `k`. */
  private def extremeTable(name: String, parts: Seq[Seq[Long]]): Unit = {
    import spark.implicits._
    parts.foreach(ks => ks.toDF("k").coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/$name")
      .mode("append").save())
  }
  private def rows(name: String): Long =
    spark.sql(s"SELECT count(*) FROM gcs.ns.$name").head.getLong(0)

  test("DELETE k > Long.MaxValue / k < Long.MinValue matches no row: " +
      "the metadata path keeps the parts at the extremes") {
    wh
    extremeTable("extm",
      Seq(Seq(1L, 2L), Seq(Long.MaxValue), Seq(Long.MinValue)))
    spark.sql(s"DELETE FROM gcs.ns.extm WHERE k > ${Long.MaxValue}L")
    assert(rows("extm") === 4L)
    spark.sql(s"DELETE FROM gcs.ns.extm WHERE k < ${Long.MinValue}L")
    assert(rows("extm") === 4L)
    // the equality-delete path agrees
    spark.conf.set("graft.delete.mode", "eq")
    try {
      spark.sql(s"DELETE FROM gcs.ns.extm WHERE k > ${Long.MaxValue}L")
      spark.sql(s"DELETE FROM gcs.ns.extm WHERE k < ${Long.MinValue}L")
    } finally spark.conf.unset("graft.delete.mode")
    assert(rows("extm") === 4L)
  }

  test("DELETE and REPLACE WHERE k > Long.MaxValue keep a part whose " +
      "keys all sit at the extreme next to a straddling part") {
    wh
    extremeTable("extc", Seq(Seq(5L, Long.MaxValue), Seq(Long.MaxValue)))
    spark.sql(s"DELETE FROM gcs.ns.extc WHERE k > ${Long.MaxValue}L")
    assert(rows("extc") === 3L)
    // REPLACE WHERE classifies through the copy-on-write kernel alone
    spark.sql(s"INSERT INTO gcs.ns.extc REPLACE WHERE k > ${Long.MaxValue}L " +
      "SELECT 7L AS k")
    assert(rows("extc") === 4L)
  }

  test("TIMESTAMP AS OF resolves the newest snapshot at or before the instant") {
    wh
    import java.nio.file.attribute.FileTime
    import java.nio.file.{Files => JFiles, Paths}
    spark.sql("CREATE TABLE gcs.ns.tt (k BIGINT, s STRING)")      // v1
    spark.sql("INSERT INTO gcs.ns.tt VALUES (1, 'a'), (2, 'b')")  // v2
    spark.sql("INSERT INTO gcs.ns.tt VALUES (3, 'c')")            // v3
    // pin distinct commit times without sleeping: v1/v2 happened
    // 20/10 minutes ago, v3 now (version-file mtime IS commit time)
    val dir = s"$wh/ns/tt"
    val now = System.currentTimeMillis()
    JFiles.setLastModifiedTime(
      Paths.get(dir, graft.sources.ManifestLog.versionFile(1)),
      FileTime.fromMillis(now - 20 * 60 * 1000))
    JFiles.setLastModifiedTime(
      Paths.get(dir, graft.sources.ManifestLog.versionFile(2)),
      FileTime.fromMillis(now - 10 * 60 * 1000))
    def atMinus(min: Int): Long = {
      val ts = new java.sql.Timestamp(now - min * 60 * 1000)
      spark.sql(s"SELECT count(*) FROM gcs.ns.tt TIMESTAMP AS OF '$ts'")
        .head.getLong(0)
    }
    assert(atMinus(15) === 0, "15 min ago the table was the empty v1")
    assert(atMinus(5) === 2, "5 min ago v2 (two rows) was the head")
    assert(atMinus(0) === 3, "now the head is v3")
    intercept[Exception] { atMinus(60) } // before the first commit: loud
  }

  test("SQL h64() == the Column helper == per-row over a table") {
    wh
    val sqlV = spark.sql("SELECT gcs.ns.h64('graft:42') AS h").head.getLong(0)
    val colV = evalOne[Long](graft.functions.OracleHash.h64(lit("graft:42")))
    assert(sqlV === colV)
    spark.range(20).selectExpr("CAST(id AS STRING) AS s")
      .createOrReplaceTempView("graft_h64_in")
    val pairs = spark.sql(
      "SELECT s, gcs.ns.h64(s) AS h FROM graft_h64_in").collect()
    pairs.foreach { r =>
      assert(r.getLong(1) ===
        evalOne[Long](graft.functions.OracleHash.h64(lit(r.getString(0)))),
        s"h64 mismatch for '${r.getString(0)}'")
    }
  }

  test("catalog tables stream by NAME: readStream.table tails the snapshot log") {
    wh
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE gcs.ns.feed (k BIGINT, s STRING)")
    spark.sql("INSERT INTO gcs.ns.feed VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gcs.ns.feed VALUES (3, 'c')")
    val q = spark.readStream.table("gcs.ns.feed")
      .writeStream.format("memory").queryName("graft_cat_feed")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("graft_cat_feed").count() === 3)
  }

  test("ANN index-as-table: probe -> commit -> serve across two appends") {
    // The q_ann_index_serve contract at the snapshot level: the index
    // is a committed manifest table; each corpus batch appends ONLY
    // its own (cell, vec_id, code) rows as the next snapshot; serving
    // from the committed head after each append equals serving from
    // an in-memory index over the same corpus slice — proving the
    // table-format loop (commit, append, head resolution, scan)
    // neither loses nor duplicates index rows at any version.
    import org.apache.spark.sql.DataFrame
    import graft.model.Tables
    import graft.functions.Exact
    val t = Files.createTempDirectory("graft-annidx-spec-").toString + "/idx"
    val emb = Tables.embeddings(spark, Sf0001)
    val cents = graft.queries.SimOps.centroidArrays(spark, Sf0001)
      .select(col("label").as("cell"), col("centroid"))
    def signCode(df: DataFrame, idCol: String, out: String): DataFrame = df
      .select(col(idCol), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col(idCol))
      .agg(sum(when(col("x") > 0 && col("dim") < 63,
        expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L)).as(out))
    def indexRows(slice: DataFrame): DataFrame = slice
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        Exact.sqDistFD(col("embedding"), col("centroid")).as("d2"), col("cell"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("a"))
      .select(col("vec_id"), col("a.cell").cast("long").as("cell"))
      .join(signCode(slice, "vec_id", "code"), Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("code"))
    val probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val probeSide = graft.plans.GroupTopK.topK(
      probes.crossJoin(broadcast(cents))
        .select(col("probe_id"),
          Exact.sqDistFD(col("p_emb"), col("centroid")).as("dc"), col("cell")),
      Seq("probe_id"), Seq(("dc", false), ("cell", false)), 3)
      .select(col("probe_id"), col("cell").cast("long").as("cell"))
      .join(signCode(probes.withColumnRenamed("p_emb", "embedding"),
        "probe_id", "pcode"), Seq("probe_id"))
    def serve(index: DataFrame): Seq[(Long, Long, Long)] =
      graft.plans.GroupTopK.topK(
        index.join(broadcast(probeSide), Seq("cell"))
          .select(col("probe_id"), col("vec_id"),
            expr("CAST(bit_count(code ^ pcode) AS BIGINT)").as("hamming")),
        Seq("probe_id"), Seq(("hamming", false), ("vec_id", false)), 5)
        .select(col("probe_id"), col("vec_id"), col("hamming"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    def write(slice: DataFrame, mode: String, parts: Int): Unit =
      indexRows(slice).repartitionByRange(parts, col("cell"), col("vec_id"))
        .write.format("graft.sources.ManifestSource")
        .option("path", t).mode(mode).save()
    def committed(): DataFrame = spark.read
      .format("graft.sources.ManifestSource").option("path", t).load()
    val conf = spark.sessionState.newHadoopConf()

    val base = emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0)
    val delta1 = emb.filter(col("vec_id") % 8 === 0 && col("vec_id") >= 8)
    val delta2 = emb.filter(col("vec_id") % 8 === 4 && col("vec_id") >= 8)
    write(base, "overwrite", 4) // v1
    write(delta1, "append", 2)  // v2: only delta1's codes computed
    assert(serve(committed()) === serve(indexRows(base.union(delta1))),
      "serve from committed head after first append must match in-memory")
    write(delta2, "append", 2)  // v3
    assert(graft.sources.ManifestLog(conf, t).versions === Seq(1, 2, 3))
    assert(serve(committed()) ===
      serve(indexRows(emb.filter(col("vec_id") >= 8))),
      "serve after second append must cover the whole corpus")
    // time travel serves the INDEX AS OF v2 — stale but consistent
    val v2 = spark.read.format("graft.sources.ManifestSource")
      .option("path", t).option("version", "2").load()
    assert(serve(v2) === serve(indexRows(base.union(delta1))))
  }

  test(".files metadata table: per-part stats, mask-aware, zero data reads") {
    wh
    import spark.implicits._
    val t = s"$wh/ns/filesmeta"
    (0L until 800L).map(i => (i, i * 3)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("overwrite").save()
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gcs.ns.filesmeta WHERE k % 10 = 0")
    finally spark.conf.unset("graft.delete.mode")
    val rows = spark.sql(
      "SELECT part, n_rows, visible_rows, has_dv, dv_count FROM " +
        "gcs.ns.filesmeta.files ORDER BY part").collect()
    assert(rows.length === 4)
    assert(rows.map(_.getAs[Long]("n_rows")).sum === 800L)
    assert(rows.map(_.getAs[Long]("visible_rows")).sum === 720L)
    assert(rows.map(_.getAs[Long]("dv_count")).sum === 80L)
    // range layout: every part holds multiples of 10, so all carry DVs
    assert(rows.forall(_.getAs[Boolean]("has_dv")))
    // key ranges are disjoint and ordered under the range layout
    val ks = spark.sql(
      "SELECT key_min, key_max FROM gcs.ns.filesmeta.files ORDER BY key_min")
      .collect()
    ks.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).getAs[Long]("key_max") < w(1).getAs[Long]("key_min"))
    }
  }

  test(".branches metadata table: staged WAP commits visible with counts") {
    wh
    import spark.implicits._
    val t = s"$wh/ns/brmeta"
    (0L until 100L).map(i => (i, i)).toDF("k", "v")
      .repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("overwrite").save()
    assert(spark.sql("SELECT * FROM gcs.ns.brmeta.branches").count() === 0)
    (100L until 150L).map(i => (i, i)).toDF("k", "v")
      .repartition(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", t).option("branch", "audit")
      .mode("append").save()
    val row = spark.sql(
      "SELECT branch, head_version, n_parts, n_rows FROM " +
        "gcs.ns.brmeta.branches").collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("branch") === "audit")
    // branch append inherits the main head: 2 main parts + 1 staged
    assert(row.head.getAs[Long]("n_parts") === 3L)
    assert(row.head.getAs[Long]("n_rows") === 150L)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only widening; old rows read NULL") {
    wh
    spark.sql("CREATE TABLE gcs.ns.altered (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcs.ns.altered VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE gcs.ns.altered ADD COLUMN note STRING")
    spark.sql("INSERT INTO gcs.ns.altered VALUES (3, 30, 'x')")
    val head = spark.sql(
      "SELECT count(*) AS n, count(note) AS n_note FROM gcs.ns.altered")
      .collect().head
    assert(head.getAs[Long]("n") === 3L && head.getAs[Long]("n_note") === 1L)
    // the widening is its own snapshot; the pre-ALTER version still
    // serves the narrow schema
    assert(spark.sql("SELECT * FROM gcs.ns.altered VERSION AS OF 2")
      .schema.fieldNames.toSeq === Seq("k", "v"))
    assert(spark.sql("SELECT * FROM gcs.ns.altered VERSION AS OF 3")
      .schema.fieldNames.toSeq === Seq("k", "v", "note"))
    // rename/drop are now first-class metadata-only DDL (column
    // mapping — ColumnMappingSpec pins them); what stays rejected is
    // anything that would re-interpret committed lines: narrowing
    intercept[Exception] {
      spark.sql("ALTER TABLE gcs.ns.altered ALTER COLUMN v TYPE INT")
    }
    // duplicate add fails loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE gcs.ns.altered ADD COLUMN note STRING")
    }
  }

  test("TRUNCATE TABLE: logical truncate, history intact") {
    wh
    spark.sql("CREATE TABLE gcs.ns.trunc (k BIGINT)")
    spark.sql("INSERT INTO gcs.ns.trunc VALUES (1), (2), (3)")
    spark.sql("TRUNCATE TABLE gcs.ns.trunc")
    assert(spark.sql("SELECT * FROM gcs.ns.trunc").count() === 0)
    // pre-truncate snapshot still readable
    assert(spark.sql("SELECT * FROM gcs.ns.trunc VERSION AS OF 2").count() === 3)
    spark.sql("INSERT INTO gcs.ns.trunc VALUES (9)")
    assert(spark.sql("SELECT * FROM gcs.ns.trunc").count() === 1)
  }

  test(".tags metadata table lists pinned refs with their row counts") {
    wh
    import spark.implicits._
    val t = s"$wh/ns/tagmeta"
    (0L until 120L).map(i => (i, i)).toDF("k", "v")
      .repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("overwrite").save()
    assert(spark.sql("SELECT * FROM gcs.ns.tagmeta.tags").count() === 0)
    spark.sql("CALL gcs.system.tag(table => 'ns.tagmeta', name => 'r1')")
    (120L until 150L).map(i => (i, i)).toDF("k", "v")
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("append").save()
    spark.sql("CALL gcs.system.tag(table => 'ns.tagmeta', name => 'r2')")
    val rows = spark.sql(
      "SELECT name, version, n_rows FROM gcs.ns.tagmeta.tags ORDER BY name")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      === Seq(("r1", 1, 120L), ("r2", 2, 150L)))
  }

  test("compact procedure accepts multi-column cluster_by") {
    wh
    import spark.implicits._
    (0L until 400L).map(i => (i, i % 7, s"s$i")).toDF("k", "g", "s")
      .repartition(8)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/mcc")
      .mode("overwrite").save()
    val r = spark.sql("CALL gcs.system.compact(table => 'ns.mcc', " +
      "target_parts => 2, cluster_by => 'g, k')").collect().head
    assert(r.getAs[Int]("parts_after") === 2)
    assert(spark.sql("SELECT count(*) FROM gcs.ns.mcc").head.getLong(0)
      === 400L)
  }
}
