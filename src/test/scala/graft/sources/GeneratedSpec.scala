package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Generated columns ([[ManifestGenerated]]) — create-time validation
  * and write-time computation behind q_generated_col:
  *
  *  - NULL/omitted slots compute from the same row's columns; an
  *    explicit value refuses (GENERATED ALWAYS — a disagreeing value
  *    would silently corrupt downstream reads);
  *  - CREATE refuses nondeterministic expressions, self-references,
  *    references to other generated or identity columns, unknown
  *    columns, and type drift (the cast must be spelled);
  *  - composes with an identity column in the same table.
  */
class GeneratedSpec extends SparkSpec {

  private def freshCat(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-gen-$tag-").toString
    spark.conf.set(s"spark.sql.catalog.gen$tag",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.gen$tag.warehouse", wh)
    s"gen$tag"
  }

  test("omitted slots compute; explicit values refuse") {
    val c = freshCat("a")
    spark.sql(s"""CREATE TABLE $c.wh.t (k BIGINT, v BIGINT,
      twice BIGINT GENERATED ALWAYS AS (v * 2))""")
    spark.sql(s"INSERT INTO $c.wh.t (k, v) VALUES (1, 10), (2, 20)")
    val rows = spark.sql(s"SELECT k, twice FROM $c.wh.t ORDER BY k")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 20L), (2L, 40L)))
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $c.wh.t VALUES (3, 30, 99)")
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m =>
      m != null && m.contains("GENERATED ALWAYS")))
  }

  test("CREATE refuses bad expressions with the reason named") {
    val c = freshCat("b")
    // Spark's analyzer pre-validates some shapes with its own error
    // class (UNSUPPORTED_EXPRESSION_GENERATED_COLUMN); the catalog's
    // bind() catches whatever slips through — accept either voice,
    // the contract is a LOUD refusal naming the problem
    def refuse(ddl: String, needles: String*): Unit = {
      val ex = intercept[Exception] { spark.sql(ddl) }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
      assert(chain(ex).exists(m => m != null &&
        needles.exists(m.contains)),
        s"expected one of ${needles.mkString("/")} in: ${ex.getMessage}")
    }
    refuse(s"CREATE TABLE $c.wh.x1 (v BIGINT, " +
      "g DOUBLE GENERATED ALWAYS AS (rand()))",
      "deterministic", "non-deterministic")
    refuse(s"CREATE TABLE $c.wh.x2 (v BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (g + 1))",
      "may not reference", "reference itself")
    refuse(s"CREATE TABLE $c.wh.x3 (v BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (v * 2), " +
      "h BIGINT GENERATED ALWAYS AS (g + 1))",
      "may not reference", "another generated column")
    refuse(s"CREATE TABLE $c.wh.x4 (v BIGINT, " +
      "g INT GENERATED ALWAYS AS (v * 2))",
      "declared", "incompatible with column data type")
    refuse(s"CREATE TABLE $c.wh.x5 (v BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (nope * 2))", "nope")
  }

  test("composes with an identity column; identity references refuse") {
    val c = freshCat("c")
    spark.sql(s"""CREATE TABLE $c.wh.t (
      id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 1),
      v BIGINT,
      neg BIGINT GENERATED ALWAYS AS (-v))""")
    spark.sql(s"INSERT INTO $c.wh.t (v) VALUES (7)")
    val r = spark.sql(s"SELECT id, neg FROM $c.wh.t").head
    assert(r.getLong(0) === 5L && r.getLong(1) === -7L)
    val ex = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $c.wh.x (
        id BIGINT GENERATED ALWAYS AS IDENTITY,
        g BIGINT GENERATED ALWAYS AS (id * 2))""")
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m =>
      m != null && m.contains("may not reference")))
  }

  test("a range DELETE keeps survivors whose generated slot is NULL") {
    val c = freshCat("d")
    // `x * 2` of a NULL x commits a NULL g; a DELETE that rewrites
    // the part holding it carries the row back unchanged
    for (mode <- Seq("", "mor", "eq")) {
      val t = s"$c.wh.t${if (mode.isEmpty) "cow" else mode}"
      spark.sql(s"""CREATE TABLE $t (k BIGINT, x BIGINT,
        g BIGINT GENERATED ALWAYS AS (x * 2))""")
      // one part per INSERT, so the cut at 4 straddles the second
      for (vs <- Seq("(1, 1), (2, NULL)", "(3, NULL), (4, 4), (5, NULL)"))
        spark.sql(s"INSERT INTO $t (k, x) SELECT /*+ COALESCE(1) */ * " +
          s"FROM VALUES $vs AS v(k, x)")
      assert(spark.sql(s"SELECT DISTINCT _part FROM $t").count() === 2)
      if (mode.nonEmpty) spark.conf.set("graft.delete.mode", mode)
      try spark.sql(s"DELETE FROM $t WHERE k >= 4")
      finally spark.conf.unset("graft.delete.mode")
      val rows = spark.sql(s"SELECT k, x, g FROM $t ORDER BY k").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
      assert(rows === Seq((1L, Some(1L), Some(2L)), (2L, None, None),
        (3L, None, None)), s"mode '$mode'")
    }
  }

  test("a path append computes generated columns and refuses a mismatch") {
    val c = freshCat("p")
    spark.sql(s"CREATE TABLE $c.wh.g (k BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (k * 2))")
    val dir = spark.conf.get(s"spark.sql.catalog.$c.warehouse") + "/wh/g"
    def append(g: String): Unit =
      spark.range(2, 4).selectExpr("id AS k", s"CAST($g AS BIGINT) AS g")
        .write.format("graft.sources.ManifestSource").option("path", dir)
        .mode("append").save()
    append("NULL")
    def rows = spark.sql(s"SELECT k, g FROM $c.wh.g ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((2L, 4L), (3L, 6L)))
    val ex = intercept[Exception](append("99"))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: chain(e.getCause))
    assert(chain(ex).exists(_.contains("GENERATED ALWAYS")),
      s"expected the generated-column refusal, got: ${ex.getMessage}")
    assert(rows === Seq((2L, 4L), (3L, 6L)), "a refused append lands nothing")
  }
}
