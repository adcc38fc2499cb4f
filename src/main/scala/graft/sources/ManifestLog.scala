package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.types.{LongType, StructType}

/** A name for one snapshot of a table's version log. */
sealed trait Ref

object Ref {
  /** The newest main version (0 = the empty table before its first
    * commit). */
  case object Head extends Ref
  /** Main version `version`; 0 is the empty table. */
  final case class At(version: Int) extends Ref
  /** A branch's head, or its version `version`. A branch with no
    * commits has not diverged and reads as the main head. */
  final case class Branch(name: String, version: Option[Int] = None) extends Ref
  /** The newest main version committed at or before `ms` (epoch
    * millis; a version file's mtime is its commit time). */
  final case class AsOf(ms: Long) extends Ref
  /** The main version a tag pins (see [[ManifestLog.tags]]). */
  final case class Tag(name: String) extends Ref

  /** The `version` / `branch` read options as one ref. */
  private[sources] def of(version: Option[Int], branch: Option[String]): Ref =
    branch match {
      case Some(b) => Branch(b, version)
      case None => version.fold[Ref](Head)(At)
    }
}

/** ONE RESOLVED SNAPSHOT of the version log: its version on its line
  * (a branch version for a branch ref), its parts and header (schema,
  * column mapping, table record, operation label), decoded lazily from
  * one immutable version file. A snapshot of a branch with no commits
  * is the main head's content at version 0, and `fork` names that main
  * version — the base a first branch commit forks from (None for every
  * other snapshot). It is also what a commit pins: [[ManifestSink.publishRebase]]
  * conflict-checks the head it lands on against the caller's snapshot. */
final class Snapshot private[sources] (val version: Int,
    val fork: Option[Int], lines: Seq[String]) {
  private[sources] lazy val header: ManifestHeader = MetaJson.decodeHeader(lines)
  lazy val parts: Seq[PartMeta] = MetaJson.decodeParts(lines)
  /** The snapshot's schema; None for an empty log. */
  def schema: Option[StructType] = header.schema
  /** The commit's operation label ("" for unlabelled commits). */
  def op: String = header.op
  /** (path, rows, key min, key max) of every part, the key being the
    * first BIGINT column. */
  def partRanges: Seq[(String, Long, Long, Long)] = {
    val key = schema.flatMap(_.fields.find(_.dataType == LongType)).map(_.name)
    parts.map { m =>
      val st = key.flatMap(m.cstats.get)
      (m.path, m.rows, st.fold(Long.MaxValue)(_.lMin),
        st.fold(Long.MinValue)(_.lMax))
    }
  }
}

/** THE VERSION-LOG RESOLVER — the one place that lists a table
  * directory's version files and maps a [[Ref]] to a [[Snapshot]].
  * A log is one listing of the directory: every main and branch
  * version with its file status, so the head, a branch head, a
  * version's commit time and the cache key of its content all come
  * from that one call. It is a point-in-time view: build a new one to
  * see later commits.
  *
  * Main versions claim `_MANIFEST.v<N>.json`, a branch's
  * `_MANIFEST.<branch>.v<N>.json` (its own sequence, invisible to
  * main-head resolution, sharing the directory and the part files —
  * the Iceberg named-ref shape), and a tag `_TAG.<name>.json`
  * holding the main version it pins. */
final class ManifestLog private (conf: Configuration, val dir: String,
    main: Map[Int, FileStatus], branchFiles: Map[String, Map[Int, FileStatus]],
    tagFiles: Map[String, Path], val listing: Seq[FileStatus]) {

  /** Committed main versions, ascending. */
  val versions: Seq[Int] = main.keys.toSeq.sorted

  /** The newest main version; 0 when nothing is committed. */
  def head: Int = versions.lastOption.getOrElse(0)

  /** Branches with at least one commit, by name. */
  def branches: Seq[String] = branchFiles.keys.toSeq.sorted

  /** A branch's committed versions, ascending. */
  def branchVersions(branch: String): Seq[Int] =
    branchFiles.get(branch).fold(Seq.empty[Int])(_.keys.toSeq.sorted)

  /** SNAPSHOT TAGS by name — immutable named refs to main versions:
    * `VERSION AS OF 'name'` resolves through them, and expiry RETAINS
    * tagged versions (a tag is a promise the snapshot stays readable —
    * the audit/repro/release pin, Iceberg-tag semantics). Tags never
    * move; retag = drop + create. A tag dropped since the listing is
    * left out. */
  lazy val tags: Map[String, Int] = scala.collection.immutable.TreeMap.from(
    tagFiles.flatMap { case (n, p) =>
      val text = try MetaJson.read(conf, p) catch {
        case _: java.io.FileNotFoundException => None
      }
      text.map(t => n -> MetaJson.decodeTag(t))
    })

  /** Main version `v`'s commit time (epoch millis): its version file's
    * mtime, immutable once claimed — the clock `TIMESTAMP AS OF`,
    * `startingTimestamp` and `expire_snapshots(older_than)` share. */
  def commitTime(v: Int): Long = main.getOrElse(v, missing(v, None))
    .getModificationTime

  /** The snapshot `ref` names, read from this log's listing. */
  def snapshot(ref: Ref = Ref.Head): Snapshot = ref match {
    case Ref.Head => at(head)
    case Ref.At(v) => at(v)
    case Ref.Branch(b, None) => branchVersions(b).lastOption match {
      case Some(v) => new Snapshot(v, None, read(branchFiles(b)(v), v, Some(b)))
      case None => new Snapshot(0, Some(head), lines(head))
    }
    case Ref.Branch(b, Some(v)) =>
      val st = branchFiles.get(b).flatMap(_.get(v)).getOrElse(missing(v, Some(b)))
      new Snapshot(v, None, read(st, v, Some(b)))
    case Ref.AsOf(ms) => at(versions.filter(commitTime(_) <= ms).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $dir committed at or before $ms ms since the " +
          s"epoch (versions: ${versions.mkString(",")})")))
    case Ref.Tag(t) => at(tags.getOrElse(t, throw new IllegalArgumentException(
      s"no tag '$t' at $dir (tags: ${tags.keys.mkString(", ")})")))
  }

  private def at(v: Int): Snapshot = new Snapshot(v, None, lines(v))

  private def lines(v: Int): Seq[String] =
    if (v == 0) Seq.empty
    else read(main.getOrElse(v, missing(v, None)), v, None)

  /** A version the log does not hold (never committed, or expired)
    * fails loudly: serving another snapshot instead would be a
    * time-travel correctness bug. */
  private def missing(v: Int, branch: Option[String]): Nothing =
    throw new IllegalArgumentException(
      s"no snapshot $v${branch.fold("")(b => s" on branch $b")} at $dir " +
        s"(committed versions: ${branch.fold(versions)(branchVersions)
          .mkString(",")})")

  private def read(st: FileStatus, v: Int, branch: Option[String]): Seq[String] = {
    // the listing's (length, mtime) are part of the cache key: a table
    // dir DELETED AND REBUILT at the same path misses instead of
    // serving lines that reference reclaimed part files
    val key = s"${st.getPath}#${st.getLen}#${st.getModificationTime}"
    val hit = ManifestLog.LinesCache.get(key)
    if (hit != null) return hit
    val text = try MetaJson.read(conf, st.getPath) catch {
      case _: java.io.FileNotFoundException => None
    }
    val lines = MetaJson.lines(text.getOrElse(missing(v, branch)))
    ManifestLog.LinesCache.put(key, lines)
    lines
  }

  /** Every version file, main and branch — what a table move
    * re-points. */
  private[sources] def files: Seq[Path] =
    (main.values ++ branchFiles.values.flatMap(_.values)).map(_.getPath).toSeq

  /** Delete main version `v`'s file (snapshot expiry). */
  private[sources] def expire(v: Int): Boolean =
    main.get(v).exists(st => st.getPath.getFileSystem(conf).delete(st.getPath, false))

  /** Delete a branch's version files; returns how many went. */
  private[sources] def dropBranch(branch: String): Int =
    branchFiles.getOrElse(branch, Map.empty).values.count(st =>
      st.getPath.getFileSystem(conf).delete(st.getPath, false))

  /** Tag main version `version` as `name`. The claim fails for an
    * existing tag, including one a concurrent tagger published first. */
  private[sources] def createTag(name: String, version: Int): Unit = {
    require(ManifestLog.validBranch(name),
      s"invalid tag name '$name' (ASCII letters, digits, '_', '-' only)")
    require(main.contains(version),
      s"cannot tag version $version at $dir: no such snapshot")
    if (!MetaJson.claim(conf, new Path(dir), s"_TAG.$name.json",
        MetaJson.encodeTag(version)))
      throw new IllegalStateException(
        s"tag '$name' already exists at $dir (tags are immutable; " +
          "drop it first to retag)")
  }

  /** Delete a tag; false when the log holds no such tag. */
  private[sources] def dropTag(name: String): Boolean =
    tagFiles.get(name).exists(p => p.getFileSystem(conf).delete(p, false))
}

object ManifestLog {
  private val VersionRe = """_MANIFEST\.v(\d+)\.json""".r
  private val Name = "[A-Za-z0-9_-]+"
  private val BranchVersionRe = raw"""_MANIFEST\.($Name)\.v(\d+)\.json""".r
  private val TagRe = raw"""_TAG\.($Name)\.json""".r

  /** Main version `v`'s file name. */
  def versionFile(v: Int): String = f"_MANIFEST.v$v%05d.json"

  /** The file a commit claims for version `v` of its line. */
  private[sources] def claimName(v: Int, branch: Option[String]): String =
    branch.fold(versionFile(v))(b => f"_MANIFEST.$b%s.v$v%05d.json")

  /** A valid branch or tag name: ASCII only, the names the listing
    * reads back from file names. */
  private[sources] def validBranch(b: String): Boolean = b.matches(Name)

  /** The log at `dir`, from ONE directory listing (kept whole in
    * `listing` for the orphan sweep); a missing directory is an empty
    * log. */
  def apply(conf: Configuration, dir: String): ManifestLog = {
    val d = new Path(dir)
    val listed = try d.getFileSystem(conf).listStatus(d).toSeq catch {
      case _: java.io.FileNotFoundException => Seq.empty
    }
    val main = Map.newBuilder[Int, FileStatus]
    val branches = Map.newBuilder[(String, Int), FileStatus]
    val tags = Map.newBuilder[String, Path]
    listed.foreach { st =>
      st.getPath.getName match {
        case VersionRe(v) => main += v.toInt -> st
        case BranchVersionRe(b, v) => branches += (b, v.toInt) -> st
        case TagRe(t) => tags += t -> st.getPath
        case _ => ()
      }
    }
    new ManifestLog(conf, dir, main.result(), branches.result().groupBy(_._1._1)
      .map { case (b, vs) => b -> vs.map { case ((_, v), st) => v -> st } },
      tags.result(), listed)
  }

  /** DRIVER-SIDE SNAPSHOT CACHE. Version files are claimed exclusively
    * at commit and never rewritten, so (file, length, mtime) → lines
    * is safe to cache for the life of the process; at 100k parts a
    * manifest is ~10 MB of JSON, and planning reads it on every scan
    * build, every streaming trigger, and every change-feed diff — the
    * cache turns all but the first into memory hits. The key comes
    * from the log's listing, so an EXPIRED snapshot (file gone, not
    * listed) still fails loudly. Byte-bounded LRU. */
  private object LinesCache {
    private val MaxBytes = 64L << 20
    private val map =
      new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true)
    private var bytes = 0L
    private def sizeOf(ls: Seq[String]): Long =
      ls.foldLeft(0L)(_ + _.length + 16)
    def get(k: String): Seq[String] = synchronized { map.get(k) }
    def put(k: String, v: Seq[String]): Unit = synchronized {
      if (!map.containsKey(k)) {
        bytes += sizeOf(v)
        map.put(k, v)
        val it = map.entrySet().iterator()
        while (bytes > MaxBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != k) { bytes -= sizeOf(e.getValue); it.remove() }
        }
      }
    }
  }
}
