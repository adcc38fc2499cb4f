package graft

import java.nio.file.Files

/** CHECK constraints on catalog tables (DSv2 constraints API,
  * SPARK-51207): `ALTER TABLE ADD CONSTRAINT … CHECK (…)` persists the
  * predicate, the loaded table reports it ENFORCED, and the ENGINE
  * rejects violating writes before any part commits. Pins the
  * lifecycle: add (with existing-data validation), enforce on INSERT,
  * atomic rejection (no partial data), drop, duplicate/missing
  * errors. The happy-path data answer is oracle-gated via
  * q_check_constraint. */
class ConstraintSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-consspec").toString
    spark.conf.set("spark.sql.catalog.gcc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcc.warehouse", d)
    d
  }

  test("ADD CONSTRAINT persists; violating INSERT fails atomically") {
    wh
    spark.sql("CREATE TABLE gcc.ns.checked (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE gcc.ns.checked ADD CONSTRAINT v_pos CHECK (v > 0)")
    spark.sql("INSERT INTO gcc.ns.checked VALUES (1, 10), (2, 20)")
    assert(spark.sql("SELECT count(*) FROM gcc.ns.checked").head.getLong(0)
      === 2L)
    // a batch with one bad row fails WHOLE — nothing lands
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gcc.ns.checked VALUES (3, 30), (4, -1)")
    }
    assert(e.getMessage.toLowerCase.contains("check") ||
      e.getMessage.contains("v_pos") || e.getMessage.contains("CONSTRAINT"),
      s"unexpected error: ${e.getMessage}")
    assert(spark.sql("SELECT count(*) FROM gcc.ns.checked").head.getLong(0)
      === 2L, "failed insert must not commit any rows")
    // the constraint shows on the loaded table
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("gcc")
      .asInstanceOf[TableCatalog]
    val cons = cat.loadTable(Identifier.of(Array("ns"), "checked"))
      .constraints()
    assert(cons.length === 1 && cons.head.name() === "v_pos" &&
      cons.head.enforced())
  }

  test("ADD CONSTRAINT validates existing rows and fails on violation") {
    wh
    spark.sql("CREATE TABLE gcc.ns.dirty (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gcc.ns.dirty VALUES (1, -5), (2, 20)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gcc.ns.dirty ADD CONSTRAINT v_pos CHECK (v > 0)")
    }
    // the rejected constraint must NOT have been persisted
    spark.sql("INSERT INTO gcc.ns.dirty VALUES (3, -30)")
    assert(spark.sql("SELECT count(*) FROM gcc.ns.dirty").head.getLong(0)
      === 3L)
  }

  test("DROP CONSTRAINT releases enforcement; duplicates/missing fail") {
    wh
    spark.sql("CREATE TABLE gcc.ns.lifec (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE gcc.ns.lifec ADD CONSTRAINT v_pos CHECK (v > 0)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gcc.ns.lifec ADD CONSTRAINT v_pos CHECK (v > 1)")
    }
    spark.sql("ALTER TABLE gcc.ns.lifec DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO gcc.ns.lifec VALUES (1, -1)")
    assert(spark.sql("SELECT count(*) FROM gcc.ns.lifec").head.getLong(0)
      === 1L)
    intercept[Exception] {
      spark.sql("ALTER TABLE gcc.ns.lifec DROP CONSTRAINT nope")
    }
    // IF EXISTS tolerates the missing name
    spark.sql("ALTER TABLE gcc.ns.lifec DROP CONSTRAINT IF EXISTS nope")
  }

  test("constraints compose with MERGE/UPDATE row-level writes") {
    wh
    spark.sql("CREATE TABLE gcc.ns.dml (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE gcc.ns.dml ADD CONSTRAINT v_pos CHECK (v > 0)")
    spark.sql("INSERT INTO gcc.ns.dml VALUES (1, 10), (2, 20)")
    intercept[Exception] {
      spark.sql("UPDATE gcc.ns.dml SET v = -1 WHERE k = 1")
    }
    assert(spark.sql("SELECT v FROM gcc.ns.dml WHERE k = 1").head.getLong(0)
      === 10L, "rejected UPDATE must not change the table")
    spark.sql("UPDATE gcc.ns.dml SET v = 99 WHERE k = 1")
    assert(spark.sql("SELECT v FROM gcc.ns.dml WHERE k = 1").head.getLong(0)
      === 99L)
  }

  test("a path append obeys the CHECK constraints the table records") {
    wh
    spark.sql("CREATE TABLE gcc.ns.pathchk (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE gcc.ns.pathchk ADD CONSTRAINT v_pos CHECK (v > 0)")
    spark.sql("INSERT INTO gcc.ns.pathchk VALUES (1, 10)")
    val dir = s"$wh/ns/pathchk"
    def append(v: Long): Unit =
      spark.range(1).selectExpr("2L AS k", s"CAST($v AS BIGINT) AS v")
        .write.format("graft.sources.ManifestSource").option("path", dir)
        .mode("append").save()
    def head = graft.sources.ManifestLog(
      spark.sessionState.newHadoopConf(), dir).head
    val before = head
    val e = intercept[Exception](append(-1))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: chain(x.getCause))
    assert(chain(e).exists(m => m.contains("CHECK_CONSTRAINT_VIOLATION") ||
      m.contains("v_pos")), s"unexpected error: ${e.getMessage}")
    assert(head === before, "a refused path append must commit nothing")
    append(5)
    assert(spark.sql("SELECT k, v FROM gcc.ns.pathchk ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 10L), (2L, 5L)))
  }
}
