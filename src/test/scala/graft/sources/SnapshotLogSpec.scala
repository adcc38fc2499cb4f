package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** A local file system that counts and records directory listings
  * and, when armed, runs a hook once: the first time a commit probes a
  * main version file that does not exist yet — between the commit's
  * head read and its claim. Registered per Configuration through `fs.file.impl`
  * (with the cache off), so only the code under test sees it. */
class ProbeFs extends RawLocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    ProbeFs.listings.incrementAndGet()
    ProbeFs.listed.add(p.toUri.getPath)
    super.listStatus(p)
  }
  override def exists(f: Path): Boolean = {
    if (f.getName.matches("""_MANIFEST\.v\d+\.json""") && !super.exists(f))
      ProbeFs.beforeClaim.getAndSet(null) match {
        case null => ()
        case hook => hook()
      }
    super.exists(f)
  }
}

object ProbeFs {
  val listings = new AtomicInteger()
  /** The paths listed, in order. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val beforeClaim = new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[ProbeFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}

/** A checksummed local file system whose rename always throws — the
  * I/O error at a claim's publish step. */
class RenameFailFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean =
    throw new java.io.IOException(s"rename refused: $dst")
}

/** The version log's one resolver ([[ManifestLog]]) and the commit
  * loop's header rule: a commit keeps, appends to or restates the
  * header of the head it lands on, and a pinned commit conflicts when
  * that header is not its base's. */
class SnapshotLogSpec extends SparkSpec {

  private val plain = new Configuration()
  private val kv = StructType.fromDDL("k BIGINT, v BIGINT")
  private def pm(p: String) = PartMeta(p, 1L)
  private def fresh(): String = Files.createTempDirectory("graft-log-").toString
  private def head(dir: String): Snapshot = ManifestLog(plain, dir).snapshot()
  private def ddl(dir: String): String = head(dir).header.schemaDdl.get

  /** ADD COLUMN w onto (k, v): the catalog's restated header. */
  private def addW(dir: String): Int =
    ManifestSink.publishRebase(plain, dir, h => h, HeaderChange.Restate(
      StructType.fromDDL("k BIGINT, v BIGINT, w BIGINT"),
      ColMap.identity(3), TableRecord()), op = "alter")

  test("a pinned rewrite after an interleaved ADD COLUMN conflicts " +
    "instead of dropping the column") {
    val dir = fresh()
    ManifestSink.publishRebase(plain, dir, _ => Seq(pm("a"), pm("b")),
      HeaderChange.Append(kv)) // v1
    val base = head(dir)
    addW(dir) // v2
    val ex = intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(plain, dir,
        h => h.filterNot(_.path == "a") :+ pm("a2"), HeaderChange.Keep,
        base = Some(base), footprint = Some(Set("a")), op = "optimize")
    }
    assert(ex.getMessage.contains("changed its schema or table record"))
    assert(head(dir).version === 2)
    assert(ddl(dir).contains("w BIGINT"))
  }

  test("a metadata-only commit after RENAME keeps v2 and its id") {
    val dir = fresh()
    ManifestSink.publishRebase(plain, dir, _ => Seq(pm("a"), pm("b")),
      HeaderChange.Append(kv)) // v1
    ManifestSink.publishRebase(plain, dir, h => h, HeaderChange.Restate(
      StructType.fromDDL("k BIGINT, v2 BIGINT"),
      ColMap(Seq(0, 1), 2, Seq("v")), TableRecord()), op = "alter") // v2
    ManifestSink.publishRebase(plain, dir, h => h.filterNot(_.path == "a"),
      HeaderChange.Keep, op = "delete") // v3
    val h = head(dir)
    assert(h.version === 3)
    assert(h.parts.map(_.path) === Seq("b"))
    assert(h.header.schemaCm.map { case (s, cm) => (s.fieldNames.toSeq, cm) } ===
      Some((Seq("k", "v2"), ColMap(Seq(0, 1), 2, Seq("v")))))
  }

  test("an append planned before an ADD COLUMN keeps the column or is " +
    "refused") {
    val dir = fresh()
    ManifestSink.publishRebase(plain, dir, _ => Seq(pm("a")),
      HeaderChange.Append(kv)) // v1
    var raced = false
    intercept[IllegalArgumentException] {
      ManifestSink.publishRebase(plain, dir, h => {
        if (!raced) { raced = true; addW(dir) } // lands v2 after our head read
        h :+ pm("b")
      }, HeaderChange.Append(kv))
    }
    assert(head(dir).version === 2)
    assert(ddl(dir).contains("w BIGINT"), "the ADD COLUMN must survive")
  }

  test("a row-level commit after a nested DROP COLUMN conflicts") {
    val dir = fresh()
    ManifestSink.publishRebase(plain, dir, _ => Seq(pm("a"), pm("b")),
      HeaderChange.Append(StructType.fromDDL(
        "k BIGINT, s STRUCT<x: BIGINT, y: BIGINT>"))) // v1
    val base = head(dir)
    ManifestSink.publishRebase(plain, dir, h => h, HeaderChange.Restate(
      StructType.fromDDL("k BIGINT, s STRUCT<x: BIGINT>"),
      ColMap(Seq(0, 1), 2, Seq.empty,
        nested = Map(1 -> ColMap.Nested(Seq(0), 2, Seq("y")))),
      TableRecord()), op = "alter") // v2 drops s.y
    intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(plain, dir,
        h => h.filterNot(_.path == "a") :+ pm("a2"), HeaderChange.Keep,
        base = Some(base), footprint = Some(Set("a")), op = "update")
    }
    assert(head(dir).version === 2)
    assert(!ddl(dir).contains("y: BIGINT"))
  }

  test("a cherrypick whose main gains a column between read and claim " +
    "keeps it") {
    val dir = fresh()
    val k = StructType.fromDDL("k BIGINT")
    ManifestSink.publishRebase(plain, dir, _ => Seq(pm("a")),
      HeaderChange.Append(k)) // main v1
    ManifestSink.publishRebase(plain, dir, h => h :+ pm("f1"),
      HeaderChange.Append(k), branch = Some("fix")) // fix v1
    ProbeFs.beforeClaim.set(() => ManifestSink.publishRebase(plain, dir,
      h => h, HeaderChange.Restate(StructType.fromDDL("k BIGINT, w BIGINT"),
        ColMap.identity(2), TableRecord()), op = "alter")) // main v2
    val stats = try ManifestMaintenance.cherrypick(ProbeFs.conf(), dir, "fix")
      finally ProbeFs.beforeClaim.set(null)
    assert(stats.version === 3, "the pick must land after the racing ALTER")
    assert(head(dir).parts.map(_.path).toSet === Set("a", "f1"))
    assert(ddl(dir).contains("w BIGINT"), "the ALTER's column must survive")
  }

  test("one directory listing per head resolution and per commit attempt") {
    val dir = fresh()
    val conf = ProbeFs.conf()
    ProbeFs.listings.set(0)
    ManifestSink.publishRebase(conf, dir, _ => Seq(pm("a")),
      HeaderChange.Append(kv))
    assert(ProbeFs.listings.get === 1, "one commit attempt")
    ProbeFs.listings.set(0)
    val log = ManifestLog(conf, dir)
    assert(log.snapshot().parts.map(_.path) === Seq("a"))
    assert(log.snapshot(Ref.Branch("audit")).fork === Some(1))
    assert(log.commitTime(1) > 0L)
    assert(ProbeFs.listings.get === 1, "one head resolution")
    ProbeFs.listings.set(0)
    ProbeFs.beforeClaim.set(() => ManifestSink.publishRebase(plain, dir,
      h => h :+ pm("b"), HeaderChange.Append(kv)))
    val v = try ManifestSink.publishRebase(conf, dir, h => h :+ pm("c"),
      HeaderChange.Append(kv)) finally ProbeFs.beforeClaim.set(null)
    assert(v === 3)
    assert(ProbeFs.listings.get === 2, "a lost claim re-resolves once")
    assert(head(dir).parts.map(_.path) === Seq("a", "b", "c"))
  }

  test("expire_snapshots lists the table directory once: versions, " +
    "tag pins and the orphan sweep share the listing") {
    val dir = fresh()
    (1 to 3).foreach(i => ManifestSink.publishRebase(plain, dir,
      h => h :+ pm(s"p$i"), HeaderChange.Append(kv)))
    ManifestLog(plain, dir).createTag("keep", 1)
    // crashed-refresh debris: the sweep probes the staging directory,
    // which is not a listing of the table directory
    val stage = new java.io.File(dir, "_mv-plus-dead")
    assert(stage.mkdir() && stage.setLastModified(1000L))
    ProbeFs.listed.clear()
    val stats = ManifestMaintenance.expireSnapshots(ProbeFs.conf(), dir,
      keepLast = 1)
    val listed = ProbeFs.listed.asScala.toSeq
    assert(listed.count(_ == new Path(dir).toUri.getPath) === 1,
      s"one listing of the table directory: $listed")
    assert(listed.contains(new Path(stage.toString).toUri.getPath),
      "the staging probe still runs")
    assert(stats.versionsExpired === 1 && stats.filesDeleted === 1)
    assert(ManifestLog(plain, dir).versions === Seq(1, 3),
      "the tagged version survives expiry")
  }

  test("a tag or branch name the listing cannot read back is refused") {
    val dir = fresh()
    ManifestSink.publishRebase(plain, dir, h => h :+ pm("p1"),
      HeaderChange.Append(kv))
    val cafe = "caf\u00e9"
    // refused by name, before any file is touched
    val tag = intercept[IllegalArgumentException](
      ManifestLog(plain, dir).createTag(cafe, 1))
    assert(tag.getMessage.contains("invalid tag name"), tag.getMessage)
    val branch = intercept[IllegalArgumentException](ManifestSink.publishRebase(
      plain, dir, h => h :+ pm("p2"), HeaderChange.Append(kv), branch = Some(cafe)))
    assert(branch.getMessage.contains("invalid branch name"), branch.getMessage)
    val claimed = new java.io.File(dir).list().filter(n =>
      n.startsWith("_TAG.") || n.contains(cafe))
    assert(claimed.isEmpty, s"no tag or branch file is claimed: ${claimed.toSeq}")
    assert(ManifestLog(plain, dir).versions === Seq(1))
  }

  test("a claim whose rename throws leaves no dot-temp file behind") {
    val dir = fresh()
    ManifestSink.publishRebase(plain, dir, h => h :+ pm("p1"),
      HeaderChange.Append(kv))
    spark.conf.set("fs.file.impl", classOf[RenameFailFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    val ex = try intercept[java.io.IOException](ManifestSink.publishRebase(
        ManifestSink.driverConf(), dir, h => h :+ pm("p2"),
        HeaderChange.Append(kv)))
      finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
    assert(ex.getMessage.contains("rename refused"), ex.getMessage)
    val left = new java.io.File(dir).list()
      .filter(n => n.startsWith(".") && n.contains(".tmp"))
    assert(left.isEmpty, s"temp files left behind: ${left.toSeq}")
    assert(head(dir).version === 1, "the failed claim published nothing")
  }

  test("a stream builds one reader per distinct read schema") {
    val dir = fresh()
    (1 to 3).foreach { i =>
      spark.range(i * 10, i * 10 + 5).selectExpr("id AS k", "id AS v")
        .write.format("graft.sources.ManifestSource").option("path", dir)
        .mode("append").save()
    }
    val stream = GraftTable(None, dir).get
      .newScanBuilder(new CaseInsensitiveStringMap(java.util.Map.of()))
      .build().toMicroBatchStream(dir + "/_unused")
    def batch(s: Int, e: Int) = {
      stream.planInputPartitions(stream.deserializeOffset(s.toString),
        stream.deserializeOffset(e.toString))
      stream.createReaderFactory()
    }
    assert(batch(0, 1) eq batch(1, 3),
      "two batches with the same clause columns share one reader")
  }

  test("only the resolver lists or names version files, and the " +
    "per-ref read helpers stay deleted") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val deleted = Seq("readManifest", "readManifestMeta", "readBranchMeta",
      "readBranchFork", "readOp", "readHeader", "readSchemaAndColMap",
      "readBranchSchema", "alignedColMap", "listBranchVersions",
      "listBranches", "listVersions", "readSnapshot", "publishSnapshot",
      "manifestLines", "strictBase", "strictForkBase", "readTag",
      "listTags", "readMeta", "writeMeta", "mvVersion")
    val forbidden = Seq(
      ("""\b(""" + deleted.mkString("|") + """)\b""").r,
      """\breadSchema\([^)]""".r, // the DSv2 `readSchema()` stays
      """_MANIFEST""".r, """\bversionFile\b""".r, """_TAG\.""".r,
      """_MV\.json""".r,
      """lastOption\.getOrElse\(0\)""".r)
    val files = Files.walk(root)
    val offenders: Seq[String] =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !p.endsWith(Paths.get("graft/sources/ManifestLog.scala")))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if !line.trim.matches("""(\*|/\*\*|//).*""") &&
                forbidden.exists(_.findFirstIn(line).isDefined) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toSeq
      finally files.close()
    assert(offenders.isEmpty,
      s"resolve snapshots through ManifestLog:\n${offenders.mkString("\n")}")
  }

  test("one provider and one table class serve the manifest format") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val files = Files.walk(root)
    val sources: Seq[(java.nio.file.Path, String)] =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toSeq
      finally files.close()
    val forbidden = Seq("""\bManifestReadTable\b""".r,
      "graft\\.sources\\.ManifestSink\"".r)
    val offenders = sources.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if forbidden.exists(_.findFirstIn(line).isDefined) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, "read and write a path through " +
      s"graft.sources.ManifestSource:\n${offenders.mkString("\n")}")
    val providers = sources
      .filter(_._1.startsWith(root.resolve("graft/sources")))
      .flatMap { case (_, text) =>
        """class\s+(\w+)[^{]*\bTableProvider\b""".r
          .findAllMatchIn(text).map(_.group(1))
      }
    assert(providers.sorted === Seq("ManifestSource", "SynthSource"),
      s"one TableProvider over the manifest format: $providers")
  }
}
