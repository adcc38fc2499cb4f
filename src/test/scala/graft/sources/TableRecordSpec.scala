package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The table record — layout, properties and CHECK constraints — rides
  * in the version log beside the schema and column mapping:
  *
  *  - an ALTER that fails part-way commits nothing, so the layout
  *    never names a column the schema lacks;
  *  - a clone copies the cloned version's record (identity and
  *    generated columns, constraints, layout);
  *  - a commit that loses its slot to a property change keeps the
  *    change (the record is carried from the head it rebases onto);
  *  - the table directory holds versions, parts, vector sidecars and
  *    tags only — no file is replaced in place.
  */
class TableRecordSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  private def freshCat(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"graft-rec-$tag-").toString
    spark.conf.set(s"spark.sql.catalog.rec$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.rec$tag.warehouse", wh)
    (s"rec$tag", wh)
  }

  private def catalog(c: String): TableCatalog =
    spark.sessionState.catalogManager.catalog(c).asInstanceOf[TableCatalog]

  private def count(t: String): Long =
    spark.sql(s"SELECT count(*) FROM $t").head.getLong(0)

  test("a failed ALTER changes nothing: RENAME COLUMN with a failing DROP " +
    "leaves the layout on the old name and inserts working") {
    val (c, wh) = freshCat("a")
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v BIGINT) CLUSTER BY (k)")
    val dir = s"$wh/ns/t"
    val versions = ManifestLog(conf, dir).versions
    val ex = intercept[IllegalArgumentException] {
      catalog(c).alterTable(Identifier.of(Array("ns"), "t"),
        TableChange.renameColumn(Array("k"), "k2"),
        TableChange.deleteColumn(Array("nope"), false))
    }
    assert(ex.getMessage.contains("no column 'nope'"), ex.getMessage)
    assert(ManifestLog(conf, dir).versions === versions,
      "a failed ALTER must commit nothing")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1, 10), (2, 20)")
    assert(count(s"$c.ns.t") === 2L)
    assert(ManifestLog(conf, dir).snapshot().header.table.spec ===
      TableSpec(orderBy = Some("k")))
  }

  test("a failed ALTER changes nothing: CLUSTER BY with a failing DROP " +
    "keeps the old write order") {
    val (c, wh) = freshCat("b")
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v BIGINT) CLUSTER BY (k)")
    val dir = s"$wh/ns/t"
    intercept[IllegalArgumentException] {
      catalog(c).alterTable(Identifier.of(Array("ns"), "t"),
        TableChange.clusterBy(Array(Expressions.column("v"))),
        TableChange.deleteColumn(Array("nope"), false))
    }
    assert(ManifestLog(conf, dir).snapshot().header.table.spec ===
      TableSpec(orderBy = Some("k")))
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1, 10)")
    assert(count(s"$c.ns.t") === 1L)
  }

  test("a clone copies the table record: identity and generated columns, " +
    "CHECK constraints and the bucket layout") {
    val (c, _) = freshCat("c")
    spark.sql(s"""CREATE TABLE $c.ns.src (k BIGINT,
      id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING,
      g BIGINT GENERATED ALWAYS AS (k * 2))
      PARTITIONED BY (bucket(4, k))""")
    spark.sql(s"ALTER TABLE $c.ns.src ADD CONSTRAINT k_pos CHECK (k >= 0)")
    spark.sql(s"INSERT INTO $c.ns.src (k, v) VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"CALL $c.system.clone(source_table => 'ns.src', " +
      "target_table => 'ns.cl')").collect()
    spark.sql(s"INSERT INTO $c.ns.cl (k, v) VALUES (3, 'c')")
    val row = spark.sql(s"SELECT id, g FROM $c.ns.cl WHERE k = 3").head
    assert(!row.isNullAt(0), "the clone must generate identity values")
    assert(row.getLong(1) === 6L, "the clone must compute the generated column")
    val ids = spark.sql(s"SELECT id FROM $c.ns.cl").collect().map(_.getLong(0))
    assert(ids.distinct.length === 3, s"identity values must stay unique: ${ids.toSeq}")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $c.ns.cl (k, v) VALUES (-1, 'x')")
    }
    assert(count(s"$c.ns.cl") === 3L, "a violating INSERT must land nothing")
    assert(catalog(c).loadTable(Identifier.of(Array("ns"), "cl"))
      .partitioning().map(_.toString).toSeq === Seq("bucket(4, k)"))
  }

  test("a commit that loses its slot to ALTER SET TBLPROPERTIES keeps " +
    "the property") {
    val (c, wh) = freshCat("d")
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v STRING)") // v1
    val dir = s"$wh/ns/t"
    var raced = false
    val v = ManifestSink.publishRebase(conf, dir,
      head => {
        if (!raced) {
          raced = true
          // the racer claims v2 after our head read
          spark.sql(s"ALTER TABLE $c.ns.t SET TBLPROPERTIES ('steward' = 'ops')")
        }
        head
      }, HeaderChange.Append(StructType.fromDDL("k BIGINT, v STRING")),
      op = "append")
    assert(v === 3, "the property change must claim its own version")
    val props = spark.sql(s"SHOW TBLPROPERTIES $c.ns.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("steward") === Some("ops"),
      s"the rebased commit must carry the property forward: $props")
  }

  test("a DDL lifecycle leaves only version files, parts, vector " +
    "sidecars and tags in the table directory") {
    val (c, wh) = freshCat("e")
    val t = s"$c.ns.t"
    spark.sql(s"""CREATE TABLE $t (k BIGINT,
      id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)
      PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('steward' = 'a')""")
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT k_pos CHECK (k >= 0)")
    spark.sql(s"INSERT INTO $t (k, v) SELECT id, CAST(id AS STRING) " +
      "FROM range(200)")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('team' = 'b')")
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('steward')")
    spark.sql(s"CALL $c.system.analyze(table => 'ns.t', histograms => true)")
      .collect()
    spark.sql(s"CALL $c.system.set_layout(table => 'ns.t', spec => 'none', " +
      "order_by => 'k')").collect()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT k_pos")
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM $t WHERE w = '7'")
    finally spark.conf.unset("graft.delete.mode")
    spark.sql(s"CALL $c.system.tag(table => 'ns.t', name => 'before')")
      .collect()
    spark.sql(s"REPLACE TABLE $t PARTITIONED BY (bucket(2, k)) " +
      "AS SELECT id AS k, 'x' AS w FROM range(10)")
    assert(count(t) === 10L)
    def files(table: String): Seq[String] = {
      val dir = new Path(s"$wh/ns/$table")
      dir.getFileSystem(conf).listStatus(dir).map(_.getPath.getName).toSeq
        // the local filesystem's checksum files
        .filterNot(n => n.startsWith(".") && n.endsWith(".crc"))
    }
    def strays(names: Seq[String]): Seq[String] = names.filterNot(n =>
      n.matches("_MANIFEST\\.v\\d+\\.json") || ManifestSink.isPartFile(n) ||
        n.startsWith(DeleteVector.SidecarPrefix) ||
        (n.startsWith("_TAG.") && n.endsWith(".json")))
    val names = files("t")
    val stray = strays(names)
    assert(stray.isEmpty, s"unexpected table files: ${stray.toSeq}")
    assert(names.exists(_.startsWith(DeleteVector.SidecarPrefix)),
      "the MOR delete must have left a vector sidecar to check against")

    // a materialized view's definition and watermark ride its version
    // header: its directory holds no file of its own either
    spark.sql(s"CALL $c.system.create_mv(mv_table => 'ns.mv', " +
      "source_table => 'ns.t', key_col => 'w', sum_col => 'k', scale => 0)")
      .collect()
    // an ALTER of the MV carries its definition forward
    spark.sql(s"ALTER TABLE $c.ns.mv SET TBLPROPERTIES ('steward' = 'mv')")
    spark.sql(s"INSERT INTO $t VALUES (11, 'y')")
    spark.sql(s"CALL $c.system.refresh_mv(mv_table => 'ns.mv')").collect()
    assert(spark.sql(s"SELECT w, n_rows FROM $c.ns.mv ORDER BY w").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("x", 10L), ("y", 1L)))
    // the refresh carries the ALTER forward with the new watermark
    assert(spark.sql(s"SHOW TBLPROPERTIES $c.ns.mv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap.get("steward") ===
      Some("mv"), "refresh_mv must keep the MV's properties")
    val mvStray = strays(files("mv"))
    assert(mvStray.isEmpty, s"unexpected MV files: $mvStray")
  }
}
