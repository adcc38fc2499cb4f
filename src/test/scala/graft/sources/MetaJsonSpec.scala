package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip properties of every record [[MetaJson]] encodes:
  * decode(encode(r)) == r over generated records whose strings mix
  * the characters a delimiter grammar would trip on (quotes,
  * backslashes, separators, percent signs, newlines, non-BMP code
  * points, the empty string) and nulls where the record allows them. */
class MetaJsonSpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(20261017L)), p)
    assert(r.passed, s"$name: ${Pretty.pretty(r)}")
  }

  private val hostile = Gen.oneOf("\"", "\\", ",", "}", "{", ":", ";", "|",
    "&", "%", "+", "=", "\n", "\r\t", "%N", "\\N", "?", "\u0000",
    "{\"path\":", "\"}", "€")
  private val nonBmp: Gen[String] =
    Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp)))
  private val piece: Gen[String] = Gen.frequency(
    4 -> hostile, 2 -> nonBmp, 3 -> Gen.alphaNumStr.map(_.take(4)),
    1 -> Gen.const(""))
  private val str: Gen[String] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
  private val nullableStr: Gen[String] =
    Gen.frequency(5 -> str, 1 -> Gen.const(null: String))
  private val someStr: Gen[Option[String]] = Gen.option(str)
  private val hex: Gen[String] =
    Gen.listOf(Gen.hexChar).map(_.mkString.toLowerCase)
  private val count: Gen[Long] =
    Gen.oneOf(Gen.const(-1L), Gen.choose(0L, Long.MaxValue))
  private val anyLong: Gen[Long] = Gen.choose(Long.MinValue, Long.MaxValue)
  private val id: Gen[Int] = Gen.choose(0, 10000)
  private def small[T](g: Gen[T]): Gen[List[T]] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, g))

  private val colStat: Gen[ColStat] = for {
    kind <- Gen.oneOf('l', 's')
    bounds <- Gen.option(Gen.zip(str, str)) // None = no non-null value
    nulls <- count
    sum <- Gen.option(anyLong)
    bloom <- Gen.oneOf(Gen.const(""), hex)
  } yield ColStat(kind, bounds.map(_._1).orNull, bounds.map(_._2).orNull,
    nulls, sum, bloom)

  private val eqClause: Gen[EqClause] = for {
    col <- str
    fid <- id
    kind <- Gen.oneOf('l', 's', 'L')
    vals <- small(str)
  } yield EqClause(col, fid, kind, vals)

  private val part: Gen[PartMeta] = for {
    path <- str
    rows <- anyLong
    dvRef <- Gen.oneOf(Gen.const(""), str)
    dvCard <- Gen.choose(0L, Long.MaxValue)
    bytes <- Gen.oneOf(Gen.const(0L), Gen.choose(1L, Long.MaxValue))
    bucket <- Gen.option(Gen.zip(Gen.choose(-1, 512), Gen.choose(1, 512)))
    sorted <- Gen.oneOf(true, false)
    cstats <- small(Gen.zip(str, colStat)).map(_.toMap)
    cols <- small(id)
    eq <- small(eqClause)
  } yield PartMeta(path, rows, dvRef,
    if (dvRef.isEmpty) 0L else dvCard, bytes,
    bucket.fold(-1)(_._1), bucket.fold(0)(_._2), sorted, cstats, cols,
    eq)

  private val colMap: Gen[ColMap] = for {
    ids <- small(id)
    next <- id
    retired <- small(str)
    defaults <- small(Gen.zip(id, Gen.zip(str, str))).map(_.toMap)
    nested <- small(Gen.zip(id, for {
      nids <- small(id)
      nnext <- id
      nret <- small(str)
    } yield ColMap.Nested(nids, nnext, nret))).map(_.toMap)
  } yield ColMap(ids, next, retired, defaults, nested)

  test("part records (ColStat, EqClause) round-trip") {
    check("part", Prop.forAll(part) { m =>
      MetaJson.decodePart(MetaJson.encodePart(m)) == m
    })
  }

  test("a part line carrying an inline vector is refused, not read without it") {
    val ex = intercept[IllegalArgumentException](
      MetaJson.decodePart("""{"path":"part-0.csv","rows":3,"dv":"ff"}"""))
    assert(ex.getMessage.contains("inline deletion vectors"))
  }

  test("manifest: schema, colmap and version headers and parts round-trip") {
    val version = Gen.option(for {
      v <- Gen.choose(0, Int.MaxValue)
      op <- str
      fork <- Gen.option(Gen.choose(0, Int.MaxValue))
    } yield (v, op, fork))
    check("manifest", Prop.forAll(str, Gen.option(colMap), version,
        small(part)) { (ddl, cm, ver, parts) =>
      val lines = MetaJson.lines(MetaJson.encodeManifest(ddl, cm, ver, parts))
      MetaJson.decodeHeader(lines) == ManifestHeader(Some(ddl), cm,
        ver.map(_._1), ver.fold("")(_._2), ver.flatMap(_._3)) &&
        MetaJson.decodeParts(lines) == parts
    })
  }

  test("repointLine moves only a part's path and dvref") {
    check("repoint", Prop.forAll(part, str) { (m, prefix) =>
      val back = MetaJson.decodePart(
        MetaJson.repointLine(MetaJson.encodePart(m), prefix + _))
      back == m.copy(path = prefix + m.path,
        dvRef = if (m.dvRef.isEmpty) "" else prefix + m.dvRef)
    })
  }

  // The layout spec, props and constraints travel in the manifest header's
  // table record; namespace props and tags keep their own records.
  test("table sidecars round-trip: layout spec, props, constraints, tags") {
    val spec = for {
      layout <- Gen.option(Gen.zip(Gen.choose(0, 4096), str))
      tf <- someStr
      order <- someStr
    } yield TableSpec(layout, tf, order)
    val props = small(Gen.zip(str, str)).map(_.toMap)
    val record = for {
      s <- spec
      p <- props
      cs <- small(Gen.zip(str, str))
    } yield TableRecord(s, p, cs)
    check("record", Prop.forAll(record, Gen.option(colMap)) { (t, cm) =>
      val lines = MetaJson.lines(MetaJson.encodeManifest("k BIGINT", cm,
        Some((1, "create", None)), Seq.empty, t))
      MetaJson.decodeHeader(lines) == ManifestHeader(Some("k BIGINT"), cm,
        Some(1), "create", None, t)
    })
    check("props", Prop.forAll(props) { p =>
      MetaJson.decodeProps(MetaJson.encodeProps(p)) == p
    })
    check("tag", Prop.forAll(Gen.choose(0, Int.MaxValue)) { v =>
      MetaJson.decodeTag(MetaJson.encodeTag(v)) == v
    })
  }

  test("catalog records round-trip: views, txn markers, MV meta") {
    val schema = StructType.fromDDL(
      "`we,ird\"col` BIGINT COMMENT 'a;b|c', s STRING, `x``y` DOUBLE")
    val arr: Gen[Array[String]] = Gen.frequency(
      4 -> small(nullableStr).map(_.toArray), 1 -> Gen.const(null))
    val view = for {
      sql <- nullableStr
      cat <- nullableStr
      ns <- arr
      qc <- arr
      al <- arr
      cm <- arr
      props <- small(Gen.zip(str, str)).map(_.toMap)
    } yield new ViewInfo(Identifier.of(Array("ns"), "v"), sql, cat, ns,
      schema, qc, al, cm, props.asJava)
    def same(a: Array[String], b: Array[String]) =
      Option(a).map(_.toSeq) == Option(b).map(_.toSeq)
    check("view", Prop.forAll(view) { info =>
      val v = MetaJson.decodeView(info.ident(), MetaJson.encodeView(info))
      def orEmpty(a: Array[String]) = Option(a).getOrElse(Array.empty[String])
      v.query() == info.sql() && v.currentCatalog() == info.currentCatalog() &&
        same(v.currentNamespace(), info.currentNamespace()) &&
        v.schema() == schema &&
        same(v.queryColumnNames(), orEmpty(info.queryColumnNames())) &&
        same(v.columnAliases(), orEmpty(info.columnAliases())) &&
        same(v.columnComments(), orEmpty(info.columnComments())) &&
        v.properties().asScala == info.properties().asScala
    })
    val entry = for { d <- str; bh <- id; fb <- id }
      yield ManifestTxn.TxnEntry(d, bh, fb)
    check("txn", Prop.forAll(small(entry)) { es =>
      MetaJson.decodeTxnMarker(MetaJson.encodeTxnMarker(es)) == es
    })
    val mv = for {
      src <- str; key <- str; sum <- str
      scale <- Gen.choose(0, 38); srcv <- id
      mm <- someStr; ndv <- someStr; kexpr <- someStr; ktz <- someStr
      join <- Gen.option(for { d <- str; fk <- str; dk <- str; dv <- id }
        yield ManifestMv.MvJoin(d, fk, dk, dv))
    } yield ManifestMv.MvMeta(src, key, sum, scale, srcv, mm, ndv,
      join, kexpr, ktz)
    check("mv", Prop.forAll(mv) { m =>
      val t = TableRecord(mv = Some(m))
      MetaJson.decodeHeader(MetaJson.lines(MetaJson.encodeManifest(
        "k BIGINT", None, Some((1, "create-mv", None)), Seq.empty, t))) ==
        ManifestHeader(Some("k BIGINT"), None, Some(1), "create-mv", None, t)
    })
  }
}
