package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.ManifestSink

/** COLUMN MAPPING (sources/ManifestSink.scala `ColMap`,
  * GraftCatalog.alterTable): RENAME and DROP COLUMN as metadata-only
  * commits over stable field ids — the Delta column-mapping /
  * Iceberg field-id contract. Pins the three correctness hazards the
  * design exists to kill: positional re-interpretation of committed
  * lines, resurrection of dropped bytes under a re-added name, and
  * per-part stats consulted for a different physical column. The
  * oracle-gated face is q_column_mapping. */
class ColumnMappingSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-colmap").toString
    spark.conf.set("spark.sql.catalog.gcm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcm.warehouse", d)
    d
  }

  private def dataFiles(table: String): Seq[String] = {
    val dir = new java.io.File(s"$wh/ns/$table")
    dir.listFiles().toSeq.map(_.getName)
      .filter(ManifestSink.isPartFile).sorted
  }

  test("RENAME COLUMN is metadata-only; old parts read under the new name") {
    wh
    spark.sql("CREATE TABLE gcm.ns.rn (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gcm.ns.rn VALUES (1, 'a'), (2, 'b')")
    val before = dataFiles("rn")
    spark.sql("ALTER TABLE gcm.ns.rn RENAME COLUMN v TO label")
    assert(dataFiles("rn") === before, "rename must not touch data files")
    assert(spark.table("gcm.ns.rn").schema.fieldNames.toSeq
      === Seq("k", "label"))
    assert(spark.sql("SELECT label FROM gcm.ns.rn WHERE k = 1").collect()
      .map(_.getString(0)).toSeq === Seq("a"))
    // inserts after the rename interleave with pre-rename parts
    spark.sql("INSERT INTO gcm.ns.rn VALUES (3, 'c')")
    assert(spark.sql("SELECT label FROM gcm.ns.rn ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    // time travel sees the schema as of the old snapshot
    assert(spark.sql("SELECT * FROM gcm.ns.rn VERSION AS OF 2")
      .schema.fieldNames.toSeq === Seq("k", "v"))
    // the old name is retired — reuse would let old per-part stats
    // describe a different column
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.rn ADD COLUMN v STRING")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.rn RENAME COLUMN label TO v")
    }
  }

  test("DROP COLUMN (middle) is metadata-only; later columns decode " +
      "correctly from both part generations") {
    wh
    spark.sql("CREATE TABLE gcm.ns.dr " +
      "(k BIGINT, tag STRING, score DOUBLE, note STRING)")
    spark.sql("INSERT INTO gcm.ns.dr VALUES " +
      "(1, 't1', 0.5, 'n1'), (2, 't2', 1.5, 'n2')")
    val before = dataFiles("dr")
    spark.sql("ALTER TABLE gcm.ns.dr DROP COLUMN score")
    assert(dataFiles("dr") === before, "drop must not touch data files")
    assert(spark.table("gcm.ns.dr").schema.fieldNames.toSeq
      === Seq("k", "tag", "note"))
    // note sat at slot 3 in old parts and sits at slot 2 in new ones —
    // the field id resolves both
    spark.sql("INSERT INTO gcm.ns.dr VALUES (3, 't3', 'n3')")
    assert(spark.sql("SELECT k, tag, note FROM gcm.ns.dr ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq === Seq((1L, "t1", "n1"), (2L, "t2", "n2"), (3L, "t3", "n3")))
    // time travel still sees the dropped column and its data
    assert(spark.sql(
      "SELECT score FROM gcm.ns.dr VERSION AS OF 2 ORDER BY k").collect()
      .map(_.getDouble(0)).toSeq === Seq(0.5, 1.5))
  }

  test("ADD after DROP allocates a fresh field id: dropped bytes can " +
      "never resurrect under the new column") {
    wh
    spark.sql("CREATE TABLE gcm.ns.res (k BIGINT, a STRING, junk BIGINT)")
    spark.sql("INSERT INTO gcm.ns.res VALUES (1, 'x', 777), (2, 'y', 888)")
    spark.sql("ALTER TABLE gcm.ns.res DROP COLUMN junk")
    spark.sql("ALTER TABLE gcm.ns.res ADD COLUMN fresh BIGINT")
    spark.sql("INSERT INTO gcm.ns.res VALUES (3, 'z', 42)")
    // old rows: fresh is NULL — NOT the 777/888 still sitting in the
    // old parts' third slot
    val rows = spark.sql(
      "SELECT k, fresh FROM gcm.ns.res ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.toSeq === Seq((1L, None), (2L, None), (3L, Some(42L))))
  }

  test("stats-identity guards: key / string-stats columns with a later " +
      "same-type column refuse to drop; other guards hold") {
    wh
    spark.sql("CREATE TABLE gcm.ns.gd " +
      "(k BIGINT, s STRING, k2 BIGINT, s2 STRING)")
    spark.sql("INSERT INTO gcm.ns.gd VALUES (1, 'a', 10, 'b')")
    // k is the stats key (first BIGINT) and k2 would inherit its range
    intercept[Exception] { spark.sql("ALTER TABLE gcm.ns.gd DROP COLUMN k") }
    // s is the string-stats column and s2 would inherit its min/max
    intercept[Exception] { spark.sql("ALTER TABLE gcm.ns.gd DROP COLUMN s") }
    // the LAST same-type columns are droppable (nothing inherits)
    spark.sql("ALTER TABLE gcm.ns.gd DROP COLUMN k2")
    spark.sql("ALTER TABLE gcm.ns.gd DROP COLUMN s2")
    // now k and s are the only columns of their type: still refusing
    // would strand the table — with no later same-type column the
    // stats simply stop pruning, which is safe
    spark.sql("ALTER TABLE gcm.ns.gd DROP COLUMN s")
    // last remaining column refuses
    intercept[Exception] { spark.sql("ALTER TABLE gcm.ns.gd DROP COLUMN k") }
    // a CHECK-constrained column refuses both rename and drop
    spark.sql("CREATE TABLE gcm.ns.gc (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE gcm.ns.gc ADD CONSTRAINT vpos CHECK (v >= 0)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.gc RENAME COLUMN v TO w")
    }
    intercept[Exception] { spark.sql("ALTER TABLE gcm.ns.gc DROP COLUMN v") }
    spark.sql("ALTER TABLE gcm.ns.gc DROP CONSTRAINT vpos")
    spark.sql("ALTER TABLE gcm.ns.gc RENAME COLUMN v TO w")
  }

  test("renaming the bucket column follows the table's layout spec") {
    wh
    spark.sql("CREATE TABLE gcm.ns.bk (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gcm.ns.bk VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gcm.ns.bk RENAME COLUMN k TO key")
    // the bucketed write distribution resolves through the NEW name
    spark.sql("INSERT INTO gcm.ns.bk VALUES (3, 'c'), (4, 'd')")
    assert(spark.sql("SELECT key FROM gcm.ns.bk ORDER BY key").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    // dropping the bucket column refuses (layout routes by it)
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.bk DROP COLUMN key")
    }
  }

  test("key pruning stays correct across a rename (stats are " +
      "positional; the predicate follows the new name)") {
    wh
    import spark.implicits._
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(8, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/pr")
      .mode("overwrite").save()
    spark.sql("ALTER TABLE gcm.ns.pr RENAME COLUMN k TO id")
    val picked = spark.sql("SELECT id FROM gcm.ns.pr WHERE id = 417")
    assert(picked.collect().map(_.getLong(0)).toSeq === Seq(417L))
    // range-partitioned layout: the key-range prune must plan 1 part
    val scans = picked.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.inputPartitions.size === 1,
      s"expected 1 planned part, got ${scans.map(_.inputPartitions.size)}")
  }

  test("MOR deletion vectors and compaction compose with mapping " +
      "(vectors mask positions; compaction re-stamps layouts)") {
    wh
    spark.sql("CREATE TABLE gcm.ns.mx (k BIGINT, a BIGINT, b STRING)")
    spark.sql("INSERT INTO gcm.ns.mx VALUES (1,11,'b1'), (2,22,'b2')")
    spark.sql("ALTER TABLE gcm.ns.mx DROP COLUMN a")
    spark.sql("INSERT INTO gcm.ns.mx VALUES (3,'b3'), (4,'b4')")
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gcm.ns.mx WHERE b = 'b2'")
    finally spark.conf.unset("graft.delete.mode")
    assert(spark.sql("SELECT k, b FROM gcm.ns.mx ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "b1"), (3L, "b3"), (4L, "b4")))
    // compaction rewrites through the CURRENT logical schema: the
    // packed part is stamped with the live ids and reads identically
    spark.sql("CALL gcm.system.compact(table => 'ns.mx', target_parts => 1)")
    assert(spark.sql("SELECT k, b FROM gcm.ns.mx ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "b1"), (3L, "b3"), (4L, "b4")))
  }

  test("ALTER COLUMN TYPE widens INT -> BIGINT metadata-only; guards " +
      "hold for value-changing and stats-identity-changing widenings") {
    wh
    spark.sql("CREATE TABLE gcm.ns.wd (k BIGINT, n INT, p DECIMAL(6,2))")
    spark.sql("INSERT INTO gcm.ns.wd VALUES (1, 7, 12.34), (2, 9, 56.78)")
    val before = dataFiles("wd")
    spark.sql("ALTER TABLE gcm.ns.wd ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE gcm.ns.wd ALTER COLUMN p TYPE DECIMAL(12,2)")
    assert(dataFiles("wd") === before, "widening must not touch data files")
    // post-widening inserts exceed the old type's range; both
    // generations read back under the widened types
    spark.sql("INSERT INTO gcm.ns.wd VALUES (3, 5000000000, 9999999999.99)")
    val rows = spark.sql(
      "SELECT k, n, p FROM gcm.ns.wd ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toPlainString))
    assert(rows.toSeq === Seq((1L, 7L, "12.34"), (2L, 9L, "56.78"),
      (3L, 5000000000L, "9999999999.99")))
    // time travel reads the old snapshot under its committed types
    assert(spark.sql("SELECT * FROM gcm.ns.wd VERSION AS OF 2")
      .schema("n").dataType === org.apache.spark.sql.types.IntegerType)
    // narrowing / scale changes / float->double-style re-interpretation
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.wd ALTER COLUMN p TYPE DECIMAL(12,4)")
    }
    // widening that would CHANGE the stats key column (first BIGINT)
    spark.sql("CREATE TABLE gcm.ns.wk (n INT, k BIGINT)")
    spark.sql("INSERT INTO gcm.ns.wk VALUES (1, 10)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.wk ALTER COLUMN n TYPE BIGINT")
    }
  }

  test("NESTED evolution: RENAME/DROP/ADD on struct fields are " +
      "metadata-only; both generations decode; dropped sub-bytes " +
      "never resurrect") {
    wh
    spark.sql("CREATE TABLE gcm.ns.nv " +
      "(k BIGINT, p STRUCT<a: BIGINT, b: STRING>)")
    spark.sql("INSERT INTO gcm.ns.nv SELECT id, " +
      "named_struct('a', id * 10, 'b', concat('v', CAST(id AS STRING))) " +
      "FROM range(0, 3)")
    val before = dataFiles("nv")
    // RENAME p.b -> tag: metadata-only, old parts serve the new name
    spark.sql("ALTER TABLE gcm.ns.nv RENAME COLUMN p.b TO tag")
    assert(dataFiles("nv") === before, "nested rename must not touch data")
    assert(spark.sql("SELECT p.tag FROM gcm.ns.nv WHERE k = 1").collect()
      .map(_.getString(0)).toSeq === Seq("v1"))
    // second generation under the renamed schema
    spark.sql("INSERT INTO gcm.ns.nv SELECT id, " +
      "named_struct('a', id * 10, 'tag', concat('w', CAST(id AS STRING))) " +
      "FROM range(3, 5)")
    // DROP p.a: metadata-only; both generations keep serving tag
    spark.sql("ALTER TABLE gcm.ns.nv DROP COLUMN p.a")
    assert(spark.table("gcm.ns.nv").select("p.*").schema.fieldNames.toSeq
      === Seq("tag"))
    assert(spark.sql("SELECT p.tag FROM gcm.ns.nv ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("v0", "v1", "v2", "w3", "w4"))
    // time travel still sees the pre-DDL struct
    assert(spark.sql("SELECT * FROM gcm.ns.nv VERSION AS OF 2")
      .select("p.*").schema.fieldNames.toSeq === Seq("a", "b"))
    // retired sub-names cannot come back — under either path
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.nv ADD COLUMN p.a BIGINT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.nv RENAME COLUMN p.tag TO b")
    }
    // ADD p.score gets a FRESH nested id: the dropped a-bytes still
    // sitting at sub-slot 0 of old parts can never serve it
    spark.sql("ALTER TABLE gcm.ns.nv ADD COLUMN p.score DOUBLE")
    assert(spark.sql("SELECT p.score FROM gcm.ns.nv ORDER BY k").collect()
      .forall(_.isNullAt(0)),
      "pre-ADD rows must read NULL, never the dropped field's bytes")
    spark.sql("INSERT INTO gcm.ns.nv SELECT id, " +
      "named_struct('tag', concat('z', CAST(id AS STRING)), " +
      "'score', CAST(id AS DOUBLE)) FROM range(5, 7)")
    assert(spark.sql(
      "SELECT k, p.tag, p.score FROM gcm.ns.nv ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
      === Seq((0L, "v0", -1.0), (1L, "v1", -1.0), (2L, "v2", -1.0),
        (3L, "w3", -1.0), (4L, "w4", -1.0), (5L, "z5", 5.0),
        (6L, "z6", 6.0)))
    // depth guards: non-struct parents and deep nesting are rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.nv ADD COLUMN k.sub BIGINT")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE gcm.ns.deep " +
        "(k BIGINT, p STRUCT<q: STRUCT<r: BIGINT>>)")
    }
  }

  test("NESTED nullability: an append carrying null sub-values widens " +
      "the published sub-field to nullable (never decodes NULL at a " +
      "non-null slot)") {
    wh
    import spark.implicits._
    val dir = s"$wh/ns/nn"
    // first commit from named_struct literals: sub-fields arrive
    // NOT NULL and publish that way
    Seq(1L).toDF("k")
      .select(col("k"),
        struct(lit(10L).as("a"), lit("a").as("b")).as("p"))
      .write.format("graft.sources.ManifestSource")
      .option("path", dir)
      .mode("overwrite").save()
    // append with a genuinely-null sub-value: accepted, and the
    // published schema must widen p.a to nullable
    Seq((2L, (Option.empty[java.lang.Long], "b")))
      .toDF("k", "p")
      .select(col("k"), col("p").cast("struct<a: bigint, b: string>"))
      .write.format("graft.sources.ManifestSource")
      .option("path", dir)
      .mode("append").save()
    val read = spark.read.format("graft.sources.ManifestSource")
      .option("path", dir).load()
    val sub = read.schema("p").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sub("a").nullable,
      "null-bearing append must publish the sub-field nullable")
    assert(read.orderBy(col("k")).select(col("p.a")).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
      === Seq(10L, -1L))
  }

  test("NESTED evolution: ALTER COLUMN TYPE widens struct fields " +
      "metadata-only; non-widening changes refuse") {
    wh
    spark.sql("CREATE TABLE gcm.ns.nw (k BIGINT, p STRUCT<a: INT, b: STRING>)")
    spark.sql("INSERT INTO gcm.ns.nw " +
      "VALUES (1, named_struct('a', 7, 'b', 'x'))")
    val before = dataFiles("nw")
    spark.sql("ALTER TABLE gcm.ns.nw ALTER COLUMN p.a TYPE BIGINT")
    assert(dataFiles("nw") === before, "nested widening must not touch data")
    assert(spark.table("gcm.ns.nw").schema("p").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a").dataType
      === org.apache.spark.sql.types.LongType)
    // committed INT lines decode as BIGINT value-exactly; new BIGINT
    // rows interleave
    spark.sql("INSERT INTO gcm.ns.nw " +
      "VALUES (2, named_struct('a', 3000000000L, 'b', 'y'))")
    assert(spark.sql("SELECT p.a FROM gcm.ns.nw ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(7L, 3000000000L))
    // time travel reads the old snapshot under its own committed type
    assert(spark.sql("SELECT * FROM gcm.ns.nw VERSION AS OF 2")
      .schema("p").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a").dataType
      === org.apache.spark.sql.types.IntegerType)
    // value-changing casts refuse (committed lines are never rewritten)
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.nw ALTER COLUMN p.b TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.ns.nw ALTER COLUMN p.a TYPE INT")
    }
  }

  test("NESTED evolution: change feed replays struct rows across " +
      "nested RENAME/DROP commits") {
    wh
    spark.sql("CREATE TABLE gcm.ns.ncf " +
      "(k BIGINT, p STRUCT<a: BIGINT, b: STRING>)")
    spark.sql("INSERT INTO gcm.ns.ncf " +
      "VALUES (1, named_struct('a', 10L, 'b', 'x'))")
    spark.sql("ALTER TABLE gcm.ns.ncf RENAME COLUMN p.b TO tag")
    spark.sql("ALTER TABLE gcm.ns.ncf DROP COLUMN p.a")
    spark.sql("INSERT INTO gcm.ns.ncf VALUES (2, named_struct('tag', 'y'))")
    val sink = Files.createTempDirectory("graft-colmap-ncf").toString
    val ckpt = Files.createTempDirectory("graft-colmap-ncfc").toString
    val q = spark.readStream.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/ncf").option("changeFeed", "true").load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the v1 row decodes its pre-rename sub-slot under the new name,
    // with the dropped sub-field gone from the feed schema
    val feed = spark.read.parquet(sink)
    assert(feed.select("p.*").schema.fieldNames.toSeq === Seq("tag"))
    assert(feed.filter(col("_change_type") === "insert")
      .select(col("k"), col("p.tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      === Seq((1L, "x"), (2L, "y")))
  }

  test("change feed replays correctly across RENAME and DROP commits") {
    wh
    spark.sql("CREATE TABLE gcm.ns.cf (k BIGINT, v STRING, x BIGINT)")
    spark.sql("INSERT INTO gcm.ns.cf VALUES (1, 'a', 100)")
    spark.sql("ALTER TABLE gcm.ns.cf RENAME COLUMN v TO w")
    spark.sql("ALTER TABLE gcm.ns.cf DROP COLUMN x")
    spark.sql("INSERT INTO gcm.ns.cf VALUES (2, 'b')")
    val sink = Files.createTempDirectory("graft-colmap-cfs").toString
    val ckpt = Files.createTempDirectory("graft-colmap-cfc").toString
    val q = spark.readStream.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/cf").option("changeFeed", "true").load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // both inserts replay; the v1 row decodes its pre-rename slot
    // under the post-rename name, and x is gone from the feed schema
    val feed = spark.read.parquet(sink)
    assert(!feed.schema.fieldNames.contains("x"))
    assert(feed.filter(col("_change_type") === "insert")
      .select(col("k"), col("w")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      === Seq((1L, "a"), (2L, "b")))
  }
}
