package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A table's layout: `layout` is the (buckets, column) placement —
  * 0 buckets = identity split, with `transform` ("days" | "hours")
  * naming a hidden time transform — and `orderBy` the WRITE ORDERED
  * BY column of an unpartitioned table. All None = unpartitioned,
  * unordered. The one layout value every manifest write takes:
  * checked by [[TableLayout.check]], planned by
  * [[ManifestSink.writePlan]]. */
private[sources] final case class TableSpec(
    layout: Option[(Int, String)] = None,
    transform: Option[String] = None,
    orderBy: Option[String] = None)

/** THE TABLE RECORD a version carries beside its schema and column
  * mapping: the layout, the table properties (TBLPROPERTIES and
  * COMMENT, plus the engine's identity, generated-column, bloom, NDV
  * and histogram keys), the CHECK constraints as (name, predicate
  * SQL) and, on a materialized view, its definition and refresh
  * watermark ([[ManifestMv.MvMeta]], describing the version that
  * carries it). It travels with the (schema, mapping) pair: a commit
  * carries the head's record forward, a DDL or a restating commit
  * (restore, fast-forward, clone, an MV create or refresh) hands its
  * own — Delta's `metaData` action, so one claim publishes a
  * table-state change atomically. */
private[sources] final case class TableRecord(
    spec: TableSpec = TableSpec(),
    props: Map[String, String] = Map.empty,
    constraints: Seq[(String, String)] = Seq.empty,
    mv: Option[ManifestMv.MvMeta] = None)

/** A snapshot manifest's header lines: the schema DDL, the column
  * mapping (absent ⇒ identity), the version record with its
  * operation label and a branch's fork base, and the table record
  * (absent ⇒ empty). */
private[sources] final case class ManifestHeader(
    schemaDdl: Option[String] = None, colmap: Option[ColMap] = None,
    version: Option[Int] = None, op: String = "",
    fork: Option[Int] = None, table: TableRecord = TableRecord()) {
  lazy val schema: Option[StructType] = schemaDdl.map(StructType.fromDDL)
  /** The (schema, column mapping) pair; an absent mapping is the
    * identity over the schema's fields. */
  lazy val schemaCm: Option[(StructType, ColMap)] =
    schema.map(s => (s, colmap.getOrElse(ColMap.identity(s.fields.length))))
}

/** THE TABLE-METADATA FORMAT, owned in one place: the json4s encoding
  * and decoding of every metadata record the `sources` package writes
  * (snapshot manifests with their table record — an MV's definition
  * and watermark included —, tags, namespace properties, view
  * records, txn markers) and the one atomic publish they all go
  * through.
  *
  * Records are JSON objects, one per line in line-oriented files.
  * Strings use JSON escaping, nested values are JSON objects or
  * arrays, and unset optional fields are left out. Data parts are
  * Parquet files ([[PartFormat]]), not records of this format. */
private[sources] object MetaJson {

  // ---- publish ------------------------------------------------------

  /** CLAIM `dir/name`: stage under a dot-temp name, then rename in
    * without overwriting. False when the name is already taken — the
    * loser of a version/tag/marker race re-plans instead of
    * clobbering the winner. */
  def claim(conf: Configuration, dir: Path, name: String,
      body: String): Boolean =
    publish(conf, dir, name, body, overwrite = false)

  /** REPLACE `dir/name` atomically (namespace properties, view
    * records): readers see the old file or the new one, never a
    * partly-written one. */
  def replace(conf: Configuration, dir: Path, name: String,
      body: String): Unit =
    if (!publish(conf, dir, name, body, overwrite = true))
      throw new java.io.IOException(s"cannot publish ${new Path(dir, name)}")

  private def publish(conf: Configuration, dir: Path, name: String,
      body: String, overwrite: Boolean): Boolean = {
    val fs = dir.getFileSystem(conf)
    val target = new Path(dir, name)
    val tmp = new Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    // the temp file (and its checksum sidecar) goes unless the rename
    // landed it — also when the write, the probe or the rename throws
    var landed = false
    try {
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
      if (fs.exists(target)) {
        if (!overwrite) return false
        // Hadoop's local rename refuses an existing target
        fs.delete(target, false)
      }
      landed = fs.rename(tmp, target)
      landed
    } finally if (!landed) fs.delete(tmp, false)
  }

  /** The whole text of `p`, or None when it does not exist. */
  def read(conf: Configuration, p: Path): Option[String] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** Non-empty lines of a line-oriented metadata file. */
  def lines(text: String): Seq[String] =
    text.linesIterator.filter(_.nonEmpty).toSeq

  // ---- json4s plumbing ----------------------------------------------

  private def render(v: JValue): String = JsonMethods.compact(v)
  private def parse(line: String): JValue =
    JsonMethods.parse(line, useBigIntForLong = false)

  /** An object without its JNothing (unset) fields. */
  private def obj(fields: (String, JValue)*): JObject =
    JObject(fields.filter(_._2 != JNothing): _*)
  private def when(cond: Boolean)(v: => JValue): JValue =
    if (cond) v else JNothing

  private def str(s: String): JValue = if (s == null) JNull else JString(s)
  private def strs(xs: Iterable[String]): JValue = JArray(xs.map(str).toList)
  private def ints(xs: Iterable[Int]): JValue =
    JArray(xs.map(i => JLong(i.toLong): JValue).toList)
  private def optStr(s: Option[String]): JValue = s.fold[JValue](JNothing)(JString)
  private def strMap(m: Map[String, String]): JObject =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> str(v) })

  private def fields(v: JValue): Map[String, JValue] = v match {
    case JObject(fs) => fs.toMap
    case other => bad("object", other)
  }
  private def bad(want: String, got: JValue): Nothing =
    throw new IllegalArgumentException(
      s"metadata: expected $want, got ${render(got)}")

  private def asLong(v: JValue): Long = v match {
    case JLong(n) => n
    case JInt(n)  => n.toLong
    case other    => bad("integer", other)
  }
  private def asStr(v: JValue): String = v match {
    case JString(s) => s
    case JNull      => null
    case other      => bad("string", other)
  }
  private def asStrs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.map(asStr)
    case other      => bad("array", other)
  }
  private def asInts(v: JValue): Seq[Int] = v match {
    case JArray(xs) => xs.map(x => asLong(x).toInt)
    case other      => bad("array", other)
  }
  private def asStrMap(v: JValue): Map[String, String] =
    fields(v).map { case (k, x) => k -> asStr(x) }

  private implicit class Fields(private val f: Map[String, JValue])
      extends AnyVal {
    def long(k: String): Long = asLong(f.getOrElse(k, bad(k, JNothing)))
    def int(k: String): Int = long(k).toInt
    def text(k: String): String = asStr(f.getOrElse(k, bad(k, JNothing)))
    def longOr(k: String, d: Long): Long = f.get(k).fold(d)(asLong)
    def textOr(k: String, d: String): String = f.get(k).fold(d)(asStr)
    def optText(k: String): Option[String] = f.get(k).map(asStr)
    def optInt(k: String): Option[Int] = f.get(k).map(asLong(_).toInt)
  }

  // ---- per-part records ---------------------------------------------

  private def colStatJson(st: ColStat): JValue = obj(
    "kind" -> JString(st.kind.toString),
    "min" -> when(st.hasValues)(JString(st.min)),
    "max" -> when(st.hasValues)(JString(st.max)),
    "nulls" -> when(st.nulls >= 0)(JLong(st.nulls)),
    "sum" -> st.sum.fold[JValue](JNothing)(JLong(_)),
    "bloom" -> when(st.bloom.nonEmpty)(JString(st.bloom)))

  private def colStatOf(v: JValue): ColStat = {
    val f = fields(v)
    ColStat(f.text("kind").head, f.optText("min").orNull,
      f.optText("max").orNull, f.longOr("nulls", -1L),
      f.get("sum").map(asLong), f.textOr("bloom", ""))
  }

  private def colStatsJson(m: Map[String, ColStat]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (c, st) => c -> colStatJson(st) })

  private def colStatsOf(v: JValue): Map[String, ColStat] =
    fields(v).map { case (c, st) => c -> colStatOf(st) }

  private def eqJson(c: EqClause): JValue = obj(
    "col" -> JString(c.col), "id" -> JLong(c.fieldId.toLong),
    "kind" -> JString(c.kind.toString), "values" -> strs(c.values))

  private def eqOf(v: JValue): EqClause = {
    val f = fields(v)
    EqClause(f.text("col"), f.int("id"), f.text("kind").head,
      asStrs(f("values")))
  }

  def encodePart(m: PartMeta): String = render(obj(
    "path" -> JString(m.path), "rows" -> JLong(m.rows),
    "dvref" -> when(m.dvRef.nonEmpty)(JString(m.dvRef)),
    "dvrows" -> when(m.dvRef.nonEmpty)(JLong(m.dvCard)),
    "bytes" -> when(m.bytes > 0)(JLong(m.bytes)),
    "bucket" -> when(m.nbuckets > 0)(JLong(m.bucket.toLong)),
    "nbuckets" -> when(m.nbuckets > 0)(JLong(m.nbuckets.toLong)),
    "sorted" -> when(m.sorted)(JBool(true)),
    "cstats" -> when(m.cstats.nonEmpty)(colStatsJson(m.cstats)),
    "cols" -> when(m.cols.nonEmpty)(ints(m.cols)),
    "eq" -> when(m.eq.nonEmpty)(JArray(m.eq.map(eqJson).toList))))

  private def partOf(f: Map[String, JValue]): PartMeta = {
    // earlier builds wrote inline vectors here; loading such a part
    // without its vector would resurrect deleted rows
    require(!f.contains("dv"), "inline deletion vectors are no longer " +
      s"read; rewrite the table (part ${f.text("path")})")
    PartMeta(f.text("path"), f.long("rows"),
      f.textOr("dvref", ""), f.longOr("dvrows", 0L),
      f.longOr("bytes", 0L), f.longOr("bucket", -1L).toInt,
      f.longOr("nbuckets", 0L).toInt,
      f.get("sorted").contains(JBool(true)),
      cstats = f.get("cstats").fold(Map.empty[String, ColStat])(colStatsOf),
      cols = f.get("cols").fold(Seq.empty[Int])(asInts),
      eq = f.get("eq").fold(Seq.empty[EqClause]) {
        case JArray(cs) => cs.map(eqOf)
        case other => bad("array", other)
      })
  }

  def decodePart(line: String): PartMeta = partOf(fields(parse(line)))

  // ---- manifest header lines ----------------------------------------

  private def encodeColMap(cm: ColMap): String = render(obj(
    "colmap" -> ints(cm.ids), "nextid" -> JLong(cm.nextId.toLong),
    "retired" -> strs(cm.retired),
    "defaults" -> when(cm.defaults.nonEmpty)(JObject(
      cm.defaults.toList.sortBy(_._1).map { case (id, (cur, ex)) =>
        id.toString -> obj("current" -> JString(cur), "exists" -> JString(ex))
      })),
    "nestedmap" -> when(cm.nested.nonEmpty)(JObject(
      cm.nested.toList.sortBy(_._1).map { case (pid, n) =>
        pid.toString -> obj("ids" -> ints(n.ids),
          "nextid" -> JLong(n.nextId.toLong), "retired" -> strs(n.retired))
      }))))

  private def colMapOf(f: Map[String, JValue]): ColMap =
    ColMap(asInts(f("colmap")), f.int("nextid"), asStrs(f("retired")),
      f.get("defaults").fold(Map.empty[Int, (String, String)])(v =>
        fields(v).map { case (id, d) =>
          val df = fields(d)
          id.toInt -> (df.text("current"), df.text("exists"))
        }),
      f.get("nestedmap").fold(Map.empty[Int, ColMap.Nested])(v =>
        fields(v).map { case (pid, n) =>
          val nf = fields(n)
          pid.toInt -> ColMap.Nested(asInts(nf("ids")), nf.int("nextid"),
            asStrs(nf("retired")))
        }))

  private def encodeTable(t: TableRecord): String = render(obj(
    "table" -> obj(
      "buckets" -> t.spec.layout.fold[JValue](JNothing)(l => JLong(l._1.toLong)),
      "bucketCol" -> t.spec.layout.fold[JValue](JNothing)(l => JString(l._2)),
      "transform" -> optStr(t.spec.transform),
      "orderBy" -> optStr(t.spec.orderBy),
      "props" -> when(t.props.nonEmpty)(strMap(t.props)),
      "constraints" -> when(t.constraints.nonEmpty)(JArray(
        t.constraints.map { case (n, sql) =>
          obj("name" -> JString(n), "sql" -> JString(sql)): JValue
        }.toList)),
      "mv" -> t.mv.fold[JValue](JNothing)(mvJson))))

  private def mvJson(m: ManifestMv.MvMeta): JValue = obj(
    "source" -> JString(m.source), "key" -> JString(m.keyCol),
    "sum" -> JString(m.sumCol), "scale" -> JLong(m.scale.toLong),
    "srcv" -> JLong(m.sourceVersion.toLong),
    "mm" -> optStr(m.mmCol), "ndv" -> optStr(m.ndvCol),
    "kexpr" -> optStr(m.keyExpr), "ktz" -> optStr(m.keyTz),
    "join" -> m.join.fold[JValue](JNothing)(j => obj(
      "dim" -> JString(j.dimSource), "fk" -> JString(j.fk),
      "dimkey" -> JString(j.dimKey), "dimv" -> JLong(j.dimVersion.toLong))))

  private def mvOf(v: JValue): ManifestMv.MvMeta = {
    val f = fields(v)
    ManifestMv.MvMeta(f.text("source"), f.text("key"), f.text("sum"),
      f.int("scale"), f.int("srcv"), f.optText("mm"), f.optText("ndv"),
      f.get("join").map { v =>
        val j = fields(v)
        ManifestMv.MvJoin(j.text("dim"), j.text("fk"), j.text("dimkey"),
          j.int("dimv"))
      },
      f.optText("kexpr"), f.optText("ktz"))
  }

  private def tableOf(v: JValue): TableRecord = {
    val f = fields(v)
    TableRecord(
      TableSpec(
        for (n <- f.optInt("buckets"); c <- f.optText("bucketCol")) yield (n, c),
        f.optText("transform"), f.optText("orderBy")),
      f.get("props").fold(Map.empty[String, String])(asStrMap),
      f.get("constraints").fold(Seq.empty[(String, String)]) {
        case JArray(cs) => cs.map { c =>
          val cf = fields(c)
          (cf.text("name"), cf.text("sql"))
        }
        case other => bad("array", other)
      },
      f.get("mv").map(mvOf))
  }

  /** A whole snapshot manifest: schema line, the column-mapping line
    * (only when given), the table record (only when non-empty), the
    * version line, then one line per part. */
  def encodeManifest(ddl: String, colmap: Option[ColMap],
      version: Option[(Int, String, Option[Int])],
      parts: Seq[PartMeta], table: TableRecord = TableRecord()): String = {
    val sb = new StringBuilder
    sb.append(render(obj("schema" -> JString(ddl)))).append('\n')
    colmap.foreach(cm => sb.append(encodeColMap(cm)).append('\n'))
    if (table != TableRecord()) sb.append(encodeTable(table)).append('\n')
    version.foreach { case (v, op, fork) =>
      sb.append(render(obj("version" -> JLong(v.toLong),
        "op" -> when(op.nonEmpty)(JString(op)),
        "fork" -> fork.fold[JValue](JNothing)(f => JLong(f.toLong)))))
        .append('\n')
    }
    parts.foreach(m => sb.append(encodePart(m)).append('\n'))
    sb.toString
  }

  /** The header records, read up to the first part line (a header
    * lookup never parses a large manifest's part list). */
  def decodeHeader(lines: Seq[String]): ManifestHeader = {
    var h = ManifestHeader()
    val it = lines.iterator
    var inHeader = true
    while (inHeader && it.hasNext) parse(it.next()) match {
      case JObject(("schema", JString(ddl)) :: _) =>
        h = h.copy(schemaDdl = Some(ddl))
      case o @ JObject(("colmap", _) :: _) =>
        h = h.copy(colmap = Some(colMapOf(fields(o))))
      case JObject(("table", t) :: _) =>
        h = h.copy(table = tableOf(t))
      case o @ JObject(("version", _) :: _) =>
        val f = fields(o)
        h = h.copy(version = Some(f.int("version")),
          op = f.textOr("op", ""), fork = f.optInt("fork"))
      case _ => inHeader = false
    }
    h
  }

  /** Every part record of a manifest, in file order. */
  def decodeParts(lines: Seq[String]): Seq[PartMeta] =
    lines.flatMap(l => parse(l) match {
      case o @ JObject(("path", _) :: _) => Some(partOf(fields(o)))
      case _ => None
    })

  /** One manifest line with the part's recorded `path` and `dvref`
    * passed through `f`; header lines come back unchanged. */
  def repointLine(line: String, f: String => String): String =
    parse(line) match {
      case o @ JObject(("path", _) :: _) =>
        val m = partOf(fields(o))
        encodePart(m.copy(path = f(m.path),
          dvRef = if (m.dvRef.isEmpty) "" else f(m.dvRef)))
      case _ => line
    }

  // ---- tags and namespace properties --------------------------------

  def encodeProps(props: Map[String, String]): String =
    render(obj("props" -> strMap(props)))

  def decodeProps(text: String): Map[String, String] =
    asStrMap(fields(parse(text))("props"))

  def encodeTag(version: Int): String =
    render(obj("version" -> JLong(version.toLong)))

  def decodeTag(text: String): Int = fields(parse(text)).int("version")

  // ---- catalog records ----------------------------------------------

  /** A persistent view's record; null arrays (unset) are left out and
    * null elements (legal in column comments) stay JSON nulls. */
  def encodeView(info: ViewInfo): String = {
    def arr(xs: Array[String]): JValue =
      if (xs == null) JNothing else strs(xs.toSeq)
    render(obj("sql" -> str(info.sql()),
      "catalog" -> str(info.currentCatalog()),
      "namespace" -> arr(info.currentNamespace()),
      "schema" -> JString(info.schema().toDDL),
      "queryCols" -> arr(info.queryColumnNames()),
      "aliases" -> arr(info.columnAliases()),
      "comments" -> arr(info.columnComments()),
      "props" -> strMap(info.properties().asScala.toMap)))
  }

  def decodeView(ident: Identifier, text: String): GraftView = {
    val f = fields(parse(text))
    def arr(k: String): Array[String] = f.get(k).map(asStrs(_).toArray).orNull
    new GraftView(ident.toString, f.textOr("sql", null),
      f.textOr("catalog", null), arr("namespace"),
      StructType.fromDDL(f.text("schema")), arr("queryCols"),
      arr("aliases"), arr("comments"),
      f.get("props").fold(Map.empty[String, String])(asStrMap).asJava)
  }

  def encodeTxnMarker(entries: Seq[ManifestTxn.TxnEntry]): String =
    entries.map(e => render(obj("dir" -> JString(e.dir),
      "branchHead" -> JLong(e.branchHead.toLong),
      "forkBase" -> JLong(e.forkBase.toLong))) + "\n").mkString

  def decodeTxnMarker(text: String): Seq[ManifestTxn.TxnEntry] =
    lines(text).map { l =>
      val f = fields(parse(l))
      ManifestTxn.TxnEntry(f.text("dir"), f.int("branchHead"),
        f.int("forkBase"))
    }
}
