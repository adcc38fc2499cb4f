package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** One layout, every spelling: the same [[TableSpec]] reached through
  * the path options, the catalog DDL (`PARTITIONED BY` / `CLUSTER
  * BY`), CTAS and `set_layout` + `compact` must commit parts of the
  * same shape:
  *
  *  - `bucket(4, k)`: every part carries a bucket ordinal in [0, 4)
  *    and `nbuckets` 4;
  *  - identity `v`: every part is single-valued on `v`;
  *  - `days(ts)`: every part is single-ordinal on the day of `ts`;
  *  - ordered `k`: every part is key-sorted and the key ranges are
  *    disjoint.
  *
  * No path option spells `days(ts)`; CTAS … CLUSTER BY is pinned by
  * [[ClusterBySpec]]. */
class LayoutSpec extends graft.SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-layoutspec").toString
    spark.conf.set("spark.sql.catalog.glay", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glay.warehouse", d)
    d
  }

  private val N = 400L

  /** k in [0, N), v = k % 5, ts one hour apart from 2024-03-01 (17
    * days), spread over 4 tasks so no write is trivially one part. */
  private def rows(): DataFrame =
    spark.range(0, N, 1, 4).selectExpr("id AS k", "id % 5 AS v",
      "TIMESTAMP'2024-03-01 00:00:00' + make_interval(0, 0, 0, 0, " +
        "CAST(id AS INT), 0, 0) AS ts")

  /** The layouts, each as (name, path options, DDL clause, set_layout
    * arguments, part-shape check). */
  private case class Layout(name: String, pathOpts: Option[Map[String, String]],
      ddl: String, setLayout: String, check: Seq[PartMeta] => Unit)

  private val layouts = Seq(
    Layout("bucket", Some(Map("buckets" -> "4")), "PARTITIONED BY (bucket(4, k))",
      "spec => 'bucket(4,k)'", parts =>
        assert(parts.forall(m => m.nbuckets == 4 && m.bucket >= 0 &&
          m.bucket < 4), parts.map(m => (m.bucket, m.nbuckets)))),
    Layout("identity", Some(Map("splitBy" -> "v")), "PARTITIONED BY (v)",
      "spec => 'v'", parts =>
        assert(parts.forall(MetaTables.singleValue(_, "v").isDefined),
          parts.map(_.cstats.get("v")))),
    Layout("days", None, "PARTITIONED BY (days(ts))", "spec => 'days(ts)'",
      parts => assert(parts.forall(m => TimeSplit.partOrdinal(
        m.cstats.get("ts"), m.rows, TimeSplit.Days).isDefined),
        parts.map(_.cstats.get("ts")))),
    Layout("ordered", Some(Map("clusterBy" -> "k", "writePartitions" -> "4")),
      "CLUSTER BY (k)", "spec => 'none', order_by => 'k'", parts => {
        assert(parts.forall(_.sorted), "ordered parts must be key-sorted")
        val ranges = parts.map(m => (m.cstats("k").lMin, m.cstats("k").lMax))
          .sortBy(_._1)
        assert(ranges.sliding(2).forall {
          case Seq((_, aMax), (bMin, _)) => aMax < bMin
          case _ => true
        }, s"ordered parts must own disjoint key ranges: $ranges")
      }))

  /** The head's parts with rows: they hold every row, in the layout. */
  private def headParts(dir: String, l: Layout): Seq[PartMeta] = {
    val parts = ManifestLog(spark.sessionState.newHadoopConf(), dir).snapshot().parts.filter(_.rows > 0)
    assert(parts.map(_.rows).sum === N, s"${l.name}: rows lost")
    assert(parts.size > 1, s"${l.name}: the shape check needs > 1 part")
    l.check(parts)
    parts
  }

  // AQE would coalesce these tiny writes into one partition and leave
  // the ordered layout unobservable
  private def write[T](f: => T): T =
    graft.util.SessionConf.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(f)

  for (l <- layouts; opts <- l.pathOpts)
    test(s"path options: ${l.name} layout commits its part shape") {
      val dir = s"$wh/path_${l.name}"
      write(rows().write.format("graft.sources.ManifestSource")
        .option("path", dir).options(opts).mode("overwrite").save())
      headParts(dir, l)
    }

  for (l <- layouts)
    test(s"catalog DDL: ${l.name} layout commits its part shape") {
      wh
      spark.sql(s"CREATE TABLE glay.ns.ddl_${l.name} " +
        s"(k BIGINT, v BIGINT, ts TIMESTAMP) ${l.ddl}")
      rows().createOrReplaceTempView("glay_src")
      write(spark.sql(s"INSERT INTO glay.ns.ddl_${l.name} SELECT * FROM glay_src"))
      headParts(s"$wh/ns/ddl_${l.name}", l)
    }

  for (l <- layouts if l.name != "ordered")
    test(s"CTAS: ${l.name} layout commits its part shape") {
      wh
      rows().createOrReplaceTempView("glay_src")
      write(spark.sql(s"CREATE TABLE glay.ns.ctas_${l.name} ${l.ddl} " +
        "AS SELECT * FROM glay_src"))
      headParts(s"$wh/ns/ctas_${l.name}", l)
    }

  for (l <- layouts)
    test(s"set_layout + compact: ${l.name} layout commits its part shape") {
      wh
      val t = s"cmp_${l.name}"
      spark.sql(s"CREATE TABLE glay.ns.$t (k BIGINT, v BIGINT, ts TIMESTAMP)")
      rows().createOrReplaceTempView("glay_src")
      spark.sql(s"INSERT INTO glay.ns.$t SELECT * FROM glay_src")
      spark.sql(s"CALL glay.system.set_layout(table => 'ns.$t', ${l.setLayout})")
      write(spark.sql(s"CALL glay.system.compact(table => 'ns.$t', " +
        "target_parts => 4)").collect())
      headParts(s"$wh/ns/$t", l)
      assert(spark.sql(s"SELECT count(*), sum(k) FROM glay.ns.$t").head.toSeq
        === Seq(N, N * (N - 1) / 2))
    }

  test("a path append obeys the recorded bucket(4, k) layout") {
    wh
    spark.sql("CREATE TABLE glay.ns.path_append (k BIGINT, v BIGINT, " +
      "ts TIMESTAMP) PARTITIONED BY (bucket(4, k))")
    rows().createOrReplaceTempView("glay_src")
    write(spark.sql("INSERT INTO glay.ns.path_append SELECT * FROM glay_src"))
    val dir = s"$wh/ns/path_append"
    def parts = ManifestLog(spark.sessionState.newHadoopConf(), dir)
      .snapshot().parts
    val before = parts.map(_.path).toSet
    def append(opts: (String, String)*): Unit =
      write(spark.range(N, N + 1000, 1, 8).selectExpr("id AS k",
        "id % 5 AS v", "TIMESTAMP'2024-03-01 00:00:00' AS ts")
        .write.format("graft.sources.ManifestSource").option("path", dir)
        .options(opts.toMap).mode("append").save())
    append()
    val added = parts.filterNot(p => before(p.path))
    assert(added.nonEmpty && added.forall(m => m.nbuckets == 4 &&
      m.bucket >= 0 && m.bucket < 4), added.map(m => (m.bucket, m.nbuckets)))
    // an option that disagrees with the recorded layout is refused;
    // one that restates it is accepted
    val ex = intercept[Exception](append("splitBy" -> "v"))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: chain(e.getCause))
    assert(chain(ex).exists(_.contains("set_layout")), ex.getMessage)
    append("buckets" -> "4")
    assert(spark.sql("SELECT count(*) FROM glay.ns.path_append").head
      .getLong(0) === N + 2000)
  }
}
