package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{Estimate, LatestAggregator, LatestBuf, LatestIn}

/** Generative properties (SURVEY §5 test plan, item b): the interp
  * chain against a straight Scala np.interp reimplementation, and the
  * UDAF's merge algebra (order-independence is what makes it safe on
  * any cluster topology). Samples are drawn from seeded scalacheck
  * generators so runs are reproducible. */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** Straight np.interp over Estimate.Points (constant extrapolation). */
  private def interpRef(x: Double): Double = {
    val pts = Estimate.Points
    if (x < pts.head._1) pts.head._2
    else if (x >= pts.last._1) pts.last._2
    else {
      val Seq((xa, ya), (xb, yb)) =
        pts.sliding(2).find { case Seq(_, (b, _)) => x < b; case _ => false }.get
      ya + (x - xa) * ((yb - ya) / (xb - xa))
    }
  }

  test("piecewiseInterp == np.interp reimplementation on generated inputs") {
    val xs = samples(Gen.choose(-500.0, 2000.0), 300) ++
      Estimate.Points.map(_._1) // knots exactly
    val got = spark.createDataFrame(xs.map(Tuple1(_))).toDF("x")
      .select(col("x"), Estimate.piecewiseInterp(col("x")).as("y"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1))
    for ((x, y) <- got)
      assert(math.abs(y - interpRef(x)) < 1e-9, s"x=$x")
  }

  private val bufGen = for {
    ts <- Gen.choose(-1000L, 1000L)
    id <- Gen.choose(0L, 100L)
    v <- Gen.choose(-1e6, 1e6)
  } yield LatestBuf(ts, id, v)

  test("LatestAggregator merge is commutative, associative, absorbs zero") {
    val m = (a: LatestBuf, b: LatestBuf) => LatestAggregator.merge(a, b)
    for (Seq(a, b, c) <- samples(bufGen, 300).grouped(3) if Seq(a, b, c).size == 3) {
      assert(m(a, b) === m(b, a))
      assert(m(m(a, b), c) === m(a, m(b, c)))
      assert(m(a, LatestAggregator.zero) === a)
    }
  }

  test("LatestAggregator reduce order and partial-merge split are irrelevant") {
    val inGen = for {
      ts <- Gen.choose(-1000L, 1000L)
      id <- Gen.choose(0L, 100L)
      v <- Gen.choose(-1e6, 1e6)
    } yield LatestIn(ts, id, v)
    val fold = (z: Seq[LatestIn]) =>
      z.foldLeft(LatestAggregator.zero)(LatestAggregator.reduce)
    for (n <- Seq(1, 2, 7, 40)) {
      val ins = samples(inGen, n)
      assert(LatestAggregator.finish(fold(ins)) ===
        LatestAggregator.finish(fold(ins.reverse)))
      val (l, r) = ins.splitAt(ins.length / 2)
      assert(LatestAggregator.merge(fold(l), fold(r)) === fold(ins),
        s"split-merge != fold for n=$n")
    }
  }
  test("ImageCodec PNG round-trip is lossless on generated doc ids") {
    import graft.functions.ImageCodec
    val ids = samples(Gen.choose(0L, 1000000L), 40)
    for (id <- ids) {
      val st = ImageCodec.decodeStats(ImageCodec.synthPng(id))
      assert(st != null, s"id=$id must decode")
      val (w, h) = (ImageCodec.widthOf(id), ImageCodec.heightOf(id))
      assert(st.getLong(0) === w.toLong && st.getLong(1) === h.toLong)
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val px = ImageCodec.rgbOf(id, x, y)
        sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
      }
      assert((st.getLong(3), st.getLong(4), st.getLong(5)) === ((sr, sg, sb)),
        s"id=$id channel sums must survive the encode/decode round-trip")
    }
  }

  /** Generated DELETE predicates as (SQL, in-memory twin) over rows
    * (k, s = "v" + k), k in [0, n): the range cut, equality on the
    * non-key string, IN on the key, and a conjunct mixing a key range
    * with `s`. */
  private def deleteCases(n: Long): Seq[(String, (Long, String) => Boolean)] = {
    val cuts = samples(Gen.choose(1L, n - 1), 4).distinct
    val picks = samples(Gen.choose(0L, n - 1), 8)
    cuts.map(c => (s"k >= $c", (k: Long, _: String) => k >= c)) ++
      picks.take(2).map(x =>
        (s"s = 'v$x'", (_: Long, v: String) => v == s"v$x")) ++
      picks.slice(2, 8).grouped(3).map { ks =>
        (s"k IN (${ks.mkString(", ")})", (k: Long, _: String) => ks.contains(k))
      } ++
      cuts.take(2).map(c =>
        (s"k >= $c AND s < 'v5'", (k: Long, v: String) => k >= c && v < "v5"))
  }

  // Every DELETE path (copy-on-write, deletion vectors, equality
  // clauses, and the metadata fast path wherever stats decide a case)
  // must agree with the plain anti-filter on arbitrary, non-part-aligned
  // predicates, and v1 must stay intact — the property CatalogSpec's
  // fixed-layout cases can't sweep.
  private lazy val deleteWh = {
    val d = java.nio.file.Files.createTempDirectory("graft-cowprop-").toString
    spark.conf.set("spark.sql.catalog.gcp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcp.warehouse", d)
    d
  }

  for ((label, mode) <- Seq("COW" -> None, "MOR" -> Some("mor"),
      "EQ" -> Some("eq")))
    test(s"$label DELETE == anti-filter ground truth on generated cut points") {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val n = 1000L
      val rows = (0L until n).map(j => (j, s"v$j"))
      for (((pred, matches), i) <- deleteCases(n).zipWithIndex) {
        val name = s"${label.toLowerCase}$i"
        rows.toDF("k", "s")
          .repartitionByRange(5, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$deleteWh/ns/$name")
          .mode("overwrite").save()
        mode.foreach(spark.conf.set("graft.delete.mode", _))
        try spark.sql(s"DELETE FROM gcp.ns.$name WHERE $pred")
        finally spark.conf.unset("graft.delete.mode")
        val got = spark.sql(s"SELECT k FROM gcp.ns.$name")
          .collect().map(_.getLong(0)).sorted.toSeq
        val want = rows.filterNot { case (k, v) => matches(k, v) }.map(_._1)
        assert(got === want, s"$label: $pred")
        assert(spark.sql(s"SELECT * FROM gcp.ns.$name VERSION AS OF 1")
          .count() === n, s"$label: $pred must not disturb v1")
      }
    }
}
