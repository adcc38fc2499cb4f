package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** [[ManifestMaintenance.cherrypick]] — the WAP publish for a main
  * line that advanced since the fork. Pinned at the API level (the
  * pick is pure manifest algebra):
  *
  *  - only the picked snapshot's APPEND DELTA lands on main; the
  *    interleaved main commits survive (the exact rows fast_forward
  *    would drop);
  *  - the delta base is the previous branch snapshot when one exists,
  *    else the fork version RECORDED on the branch's first commit
  *    (exact, empty forks included); legacy branches without a
  *    recorded fork reconstruct it from the immutable main log
  *    (newest NON-EMPTY main snapshot bit-identically contained in
  *    the pick — an empty snapshot is vacuously contained and would
  *    mask a rewritten fork, so it refuses instead);
  *  - non-append branch snapshots (dropped or restated lines), picks
  *    whose delta already landed, diverged schemas, and empty deltas
  *    all refuse loudly — a silent wrong publish is the one failure
  *    mode WAP exists to prevent.
  */
class CherrypickSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val schema = StructType.fromDDL("k BIGINT")
  private def pm(p: String, rows: Long = 1L) = PartMeta(p, rows)
  private def headPaths(dir: String): Set[String] =
    ManifestLog(conf, dir).snapshot().parts.map(_.path).toSet
  private def commit(dir: String, f: Seq[PartMeta] => Seq[PartMeta],
      branch: Option[String] = None): Int =
    ManifestSink.publishRebase(conf, dir, rebase = f,
      header = HeaderChange.Append(schema), branch = branch)

  /** Rewrites a branch's v1 manifest WITHOUT its recorded fork field,
    * simulating a branch committed before fork recording existed. */
  private def stripFork(dir: String, branch: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir,
      ManifestLog.claimName(1, Some(branch)))
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    val legacy = content.replaceAll(""","fork":\d+""", "")
    assert(legacy != content, "v1 must have carried a fork record")
    fs.delete(p, false)
    val out = fs.create(p, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
  }

  test("pick lands the branch delta on an advanced main; interleaved commit survives") {
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq(pm("a")))                    // main v1 = {a}
    commit(dir, h => h :+ pm("f1", 7L), Some("fix"))  // fix v1 = {a, f1}
    commit(dir, h => h :+ pm("b"))                    // main v2 = {a, b}
    val st = ManifestMaintenance.cherrypick(conf, dir, "fix")
    assert(st.version === 3 && st.partsAdded === 1 && st.rowsAdded === 7L)
    assert(headPaths(dir) === Set("a", "b", "f1"),
      "interleaved main part b must survive the pick")
    assert(ManifestLog(conf, dir).snapshot(Ref.At(3)).op === "cherrypick")
  }

  test("second branch snapshot diffs against the previous one, not main") {
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq(pm("a")))                    // main v1
    commit(dir, h => h :+ pm("f1"), Some("fix"))      // fix v1
    commit(dir, h => h :+ pm("f2", 3L), Some("fix"))  // fix v2
    commit(dir, h => h :+ pm("b"))                    // main v2
    val st = ManifestMaintenance.cherrypick(conf, dir, "fix", version = 2)
    assert(st.partsAdded === 1 && st.rowsAdded === 3L,
      "picking fix@2 must deliver only f2, not f1")
    assert(headPaths(dir) === Set("a", "b", "f2"))
  }

  test("a branch snapshot that dropped or restated fork lines refuses") {
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq(pm("a"), pm("b")))           // main v1
    // branch DML: replaces part a — not expressible as an append.
    // With the fork RECORDED the exact base is known, so the refusal
    // is the pure-append proof itself, naming what diverged.
    commit(dir, h => h.filterNot(_.path == "a") :+ pm("a2"), Some("dml"))
    val ex = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir, "dml")
    }
    assert(ex.getMessage.contains("not a pure append"))
    assert(headPaths(dir) === Set("a", "b"), "refusal publishes nothing")
    // branch restating a line in place (same path, new record) refuses too
    commit(dir, h => h.map(p =>
      if (p.path == "a") p.copy(rows = 99L) else p) :+ pm("c"), Some("re"))
    val ex2 = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir, "re")
    }
    assert(ex2.getMessage.contains("not a pure append"))
  }

  test("legacy branch (fork record stripped) still reconstructs a non-empty fork") {
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq(pm("a")))                    // main v1 = {a}
    commit(dir, h => h :+ pm("f1", 7L), Some("fix"))  // fix v1 = {a, f1}
    stripFork(dir, "fix")
    commit(dir, h => h :+ pm("b"))                    // main v2 = {a, b}
    val st = ManifestMaintenance.cherrypick(conf, dir, "fix")
    assert(st.partsAdded === 1 && st.rowsAdded === 7L)
    assert(headPaths(dir) === Set("a", "b", "f1"))
  }

  test("legacy branch over an empty birth snapshot refuses instead of duplicating") {
    // The round-16 advisory hole: main v1 is EMPTY (every catalog
    // table's schema-only birth snapshot), main v2 = {a}; the branch
    // forked at v2 and REWROTE a as a2 — no non-empty main snapshot
    // is contained in the pick, but the empty v1 is VACUOUSLY
    // contained, which used to collapse the base to empty, pass the
    // pure-append proof trivially, and publish a2's rows as silent
    // duplicates of a's. Empty candidates no longer qualify: refuse.
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq.empty)                       // main v1 = {} (birth)
    commit(dir, h => h :+ pm("a"))                    // main v2 = {a}
    commit(dir, h => h.filterNot(_.path == "a") :+ pm("a2", 5L), Some("dml"))
    stripFork(dir, "dml")                             // legacy: no fork record
    val ex = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir, "dml")
    }
    assert(ex.getMessage.contains("no non-empty main snapshot"))
    assert(headPaths(dir) === Set("a"), "refusal publishes nothing")
  }

  test("recorded fork makes a genuine fork-from-empty pick exact") {
    // Catalog-table shape: empty birth snapshot, branch staged before
    // any main data, main advanced — the recorded fork (v1) gives the
    // exact empty base, so the pick lands cleanly where the legacy
    // containment search would have had to refuse.
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq.empty)                       // main v1 = {} (birth)
    commit(dir, h => h :+ pm("f1", 3L), Some("wap"))  // wap v1 = {f1}, fork=1
    commit(dir, h => h :+ pm("b"))                    // main v2 = {b}
    val st = ManifestMaintenance.cherrypick(conf, dir, "wap")
    assert(st.partsAdded === 1 && st.rowsAdded === 3L)
    assert(headPaths(dir) === Set("b", "f1"),
      "interleaved main part b must survive the fork-from-empty pick")
  }

  test("double pick refuses: the delta is already on main") {
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq(pm("a")))
    commit(dir, h => h :+ pm("f1"), Some("fix"))
    ManifestMaintenance.cherrypick(conf, dir, "fix")
    // re-pick of a FIRST branch snapshot: the recorded fork gives the
    // pre-pick base, so the delta is f1 again — the already-on-main
    // dup guard refuses before any version claim
    val ex = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir, "fix")
    }
    assert(ex.getMessage.contains("already committed on main"))
    assert(ManifestLog(conf, dir).versions.last === 2,
      "failed pick must not claim a version")
    // re-pick of a LATER branch snapshot diffs against branch-prev,
    // so its delta survives reconstruction and the already-on-main
    // dup guard is what refuses
    commit(dir, h => h :+ pm("f2"), Some("fix"))      // fix v2
    ManifestMaintenance.cherrypick(conf, dir, "fix", version = 2)
    assert(headPaths(dir) === Set("a", "f1", "f2"))
    val ex2 = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir, "fix", version = 2)
    }
    assert(ex2.getMessage.contains("already committed on main"))
  }

  test("schema divergence and empty deltas refuse") {
    val dir = Files.createTempDirectory("graft-pick-").toString
    commit(dir, _ => Seq(pm("a")))
    commit(dir, h => h :+ pm("f1"), Some("fix"))
    // main evolves its schema after the fork
    ManifestSink.publishRebase(conf, dir, rebase = h => h,
      header = HeaderChange.Append(StructType.fromDDL("k BIGINT, s STRING")))
    val ex = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir, "fix")
    }
    assert(ex.getMessage.contains("diverged"))
    // a no-op branch snapshot has nothing to pick
    val dir2 = Files.createTempDirectory("graft-pick-").toString
    commit(dir2, _ => Seq(pm("a")))
    commit(dir2, h => h, Some("noop"))
    val ex2 = intercept[IllegalArgumentException] {
      ManifestMaintenance.cherrypick(conf, dir2, "noop")
    }
    assert(ex2.getMessage.contains("adds no parts"))
  }
}
