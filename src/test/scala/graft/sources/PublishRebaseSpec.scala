package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The commit loop's refresh-and-reapply contract, pinned at the API
  * level (no Spark session needed — the loop is pure Hadoop-FS):
  *
  *  - a committer that lands between our base-snapshot read and our
  *    claim must keep its parts — the retry recomputes the published
  *    list on top of the winner's snapshot (the lost-update Iceberg's
  *    commit loop exists to prevent);
  *  - an operation that CANNOT be re-applied (a pinned base) must
  *    fail loudly when the head advances, never publish a half-stale
  *    list;
  *  - string-stat comparisons are UTF-8 byte order on BOTH sides
  *    (StrBin), because Java String order disagrees on supplementary
  *    characters and would mis-prune.
  */
class PublishRebaseSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val schema = StructType.fromDDL("k BIGINT")
  private def pm(p: String) = PartMeta(p, 1L)
  private def headPaths(dir: String): Set[String] =
    ManifestLog(conf, dir).snapshot().parts.map(_.path).toSet

  test("a racer landing between base read and claim is rebased over, not dropped") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a")), HeaderChange.Append(schema)) // v1 = {a}
    var raced = false
    val v = ManifestSink.publishRebase(conf, dir,
      head => {
        if (!raced) {
          raced = true
          // the racer: commits {a, b} AFTER our head read — our claim
          // of its slot must fail and the retry must see part b
          ManifestSink.publishRebase(conf, dir,
            h => h :+ pm("b"), HeaderChange.Append(schema)) // v2 = {a, b}
        }
        head :+ pm("c")
      }, HeaderChange.Append(schema))
    assert(v === 3, "loser must land at the next free slot")
    assert(headPaths(dir) === Set("a", "b", "c"),
      "the racer's part must survive the rebased commit")
    assert(ManifestLog(conf, dir).snapshot(Ref.At(2)).parts
      .map(_.path).toSet === Set("a", "b"), "racer snapshot intact")
  }

  test("strictBase fails loudly when the head advances mid-operation") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a")), HeaderChange.Append(schema)) // v1
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("b")), HeaderChange.Append(schema)) // v2: head moved past base=1
    val ex = intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(conf, dir,
        _ => Seq(pm("stale")), HeaderChange.Append(schema),
        base = Some(ManifestLog(conf, dir).snapshot(Ref.At(1))))
    }
    assert(ex.getMessage.contains("advanced from snapshot 1 to 2"))
    assert(headPaths(dir) === Set("b"), "failed commit must publish nothing")
  }

  test("strictForkBase: a branch's FIRST commit fails loudly when MAIN " +
    "advanced past the fork base it planned against") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a")), HeaderChange.Append(schema)) // main v1
    // the committer planned against main v1 (e.g. derived an identity
    // id mark from it); main then advances to v2 — the empty branch
    // line never moves, so a branch version pin alone cannot see it
    val planned = ManifestLog(conf, dir).snapshot(Ref.Branch("wap"))
    ManifestSink.publishRebase(conf, dir,
      h => h :+ pm("b"), HeaderChange.Append(schema)) // main v2
    val ex = intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(conf, dir,
        h => h :+ pm("staged"), HeaderChange.Append(schema),
        base = Some(planned), branch = Some("wap"))
    }
    assert(ex.getMessage.contains("advanced from snapshot 1 to 2"))
    assert(ManifestLog(conf, dir).branchVersions("wap").isEmpty,
      "failed branch commit must publish nothing")
    // re-planned against the CURRENT fork base, the same commit lands
    val v = ManifestSink.publishRebase(conf, dir,
      h => h :+ pm("staged"), HeaderChange.Append(schema),
      base = Some(ManifestLog(conf, dir).snapshot(Ref.Branch("wap"))),
      branch = Some("wap"))
    assert(v === 1)
    assert(ManifestLog(conf, dir).snapshot(Ref.Branch("wap", Some(1))).parts
      .map(_.path).toSet === Set("a", "b", "staged"))
  }

  test("footprint: a disjoint interleaved commit composes, not conflicts") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a"), pm("b")), HeaderChange.Append(schema)) // v1 = {a, b}
    // an operation planned at base=1 that replaces part a; before it
    // commits, an interleaved APPEND lands v2 = {a, b, c}
    ManifestSink.publishRebase(conf, dir,
      h => h :+ pm("c"), HeaderChange.Append(schema))
    // a bare base pin would abort; the footprint proves part a is
    // bit-identical in the advanced head, so the head-aware rebase
    // re-applies and the interleaved part c survives
    val v = ManifestSink.publishRebase(conf, dir,
      h => h.filterNot(_.path == "a") :+ pm("a2"),
      HeaderChange.Append(schema),
        base = Some(ManifestLog(conf, dir).snapshot(Ref.At(1))), footprint = Some(Set("a")))
    assert(v === 3)
    assert(headPaths(dir) === Set("a2", "b", "c"),
      "disjoint DML and append must both land")
  }

  test("footprint: an interleaved commit touching a footprint part conflicts") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a"), pm("b")), HeaderChange.Append(schema)) // v1
    // interleaved commit re-vectors part a (a MOR delete's shape)
    ManifestSink.publishRebase(conf, dir,
      h => h.map(p => if (p.path == "a") p.copy(dvRef = "dv-a.hex", dvCard = 1L) else p),
      HeaderChange.Append(schema)) // v2
    val ex = intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(conf, dir,
        h => h.filterNot(_.path == "a") :+ pm("a2"),
        HeaderChange.Append(schema),
        base = Some(ManifestLog(conf, dir).snapshot(Ref.At(1))), footprint = Some(Set("a")))
    }
    assert(ex.getMessage.contains("concurrent commit touched"))
    assert(headPaths(dir) === Set("a", "b"),
      "conflicted commit must publish nothing")
  }

  test("footprint: a dropped footprint part conflicts") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a"), pm("b")), HeaderChange.Append(schema)) // v1
    ManifestSink.publishRebase(conf, dir,
      h => h.filterNot(_.path == "a"), HeaderChange.Append(schema)) // v2 drops a
    intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(conf, dir,
        h => h.filterNot(_.path == "a") :+ pm("a2"),
        HeaderChange.Append(schema),
        base = Some(ManifestLog(conf, dir).snapshot(Ref.At(1))), footprint = Some(Set("a")))
    }
    assert(headPaths(dir) === Set("b"))
  }

  test("branch commits fork from main, stay invisible, and fast-forward") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a")), HeaderChange.Append(schema)) // main v1 = {a}
    // first branch commit forks from the main head
    val b1 = ManifestSink.publishRebase(conf, dir,
      h => h :+ pm("staged1"), HeaderChange.Append(schema), branch = Some("audit"))
    assert(b1 === 1, "branch versions number independently")
    // second branch commit chains from the BRANCH head
    ManifestSink.publishRebase(conf, dir,
      h => h :+ pm("staged2"), HeaderChange.Append(schema), branch = Some("audit"))
    assert(ManifestLog(conf, dir).snapshot(Ref.Branch("audit")).parts
      .map(_.path).toSet === Set("a", "staged1", "staged2"))
    // main is untouched by branch commits
    assert(ManifestLog(conf, dir).versions === Seq(1))
    assert(headPaths(dir) === Set("a"), "branch commits invisible to main")
    // fast-forward publishes the branch head as the next main version
    val v = ManifestMaintenance.fastForward(conf, dir, "audit")
    assert(v === 2)
    assert(headPaths(dir) === Set("a", "staged1", "staged2"))
    assert(ManifestMaintenance.dropBranch(conf, dir, "audit") === 2)
    assert(ManifestLog(conf, dir).branchVersions("audit").isEmpty)
    assert(headPaths(dir) === Set("a", "staged1", "staged2"),
      "dropping the branch never touches published snapshots")
  }

  test("branch isolation: conflict detection pins the branch's own " +
    "line; main and branch lines never cross-conflict") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a"), pm("b")), HeaderChange.Append(schema)) // main v1 = {a, b}
    // a branch rewrite pinned at branch base 0 (unborn line)
    ManifestSink.publishRebase(conf, dir,
      h => h.filterNot(_.path == "a") :+ pm("a2"),
      HeaderChange.Append(schema),
      base = Some(ManifestLog(conf, dir).snapshot(Ref.Branch("audit"))), footprint = Some(Set("a")),
      branch = Some("audit")) // audit v1 = {a2, b}
    // MAIN advancing does not conflict a BRANCH rewrite pinned at
    // the branch head — the lines are independent
    ManifestSink.publishRebase(conf, dir,
      h => h :+ pm("m2"), HeaderChange.Append(schema)) // main v2 = {a, b, m2}
    ManifestSink.publishRebase(conf, dir,
      h => h.filterNot(_.path == "b") :+ pm("b2"),
      HeaderChange.Append(schema),
      base = Some(ManifestLog(conf, dir).snapshot(Ref.Branch("audit", Some(1)))), footprint = Some(Set("b")),
      branch = Some("audit")) // audit v2 = {a2, b2}
    assert(ManifestLog(conf, dir).snapshot(Ref.Branch("audit")).parts
      .map(_.path).toSet === Set("a2", "b2"))
    assert(headPaths(dir) === Set("a", "b", "m2"),
      "branch DML invisible to main")
    // a STALE branch rewrite whose footprint part was replaced on the
    // branch line (b -> b2 in audit v2) conflicts loudly
    intercept[java.util.ConcurrentModificationException] {
      ManifestSink.publishRebase(conf, dir,
        h => h.filterNot(_.path == "b") :+ pm("b3"),
        HeaderChange.Append(schema),
        base = Some(ManifestLog(conf, dir).snapshot(Ref.Branch("audit", Some(1)))), footprint = Some(Set("b")),
        branch = Some("audit"))
    }
    // ...but a stale-based rewrite over a part that survived the
    // advanced branch head BIT-IDENTICAL composes
    val v = ManifestSink.publishRebase(conf, dir,
      h => h.filterNot(_.path == "a2") :+ pm("a3"),
      HeaderChange.Append(schema),
      base = Some(ManifestLog(conf, dir).snapshot(Ref.Branch("audit", Some(1)))), footprint = Some(Set("a2")),
      branch = Some("audit"))
    assert(v === 3)
    assert(ManifestLog(conf, dir).snapshot(Ref.Branch("audit")).parts
      .map(_.path).toSet === Set("a3", "b2"))
  }

  test("an un-forked branch reads as the main head; empty branch cannot publish") {
    val dir = Files.createTempDirectory("graft-rebase-").toString
    ManifestSink.publishRebase(conf, dir,
      _ => Seq(pm("a")), HeaderChange.Append(schema))
    assert(ManifestLog(conf, dir).snapshot(Ref.Branch("audit")).parts
      .map(_.path) === Seq("a"), "no branch commits yet -> main head")
    intercept[IllegalArgumentException] {
      ManifestMaintenance.fastForward(conf, dir, "audit")
    }
  }

  test("property-name encoding matches URLEncoder and round-trips") {
    val samples = Seq("click", "URGENT-1_2.x*", "", "a b", "a+b", "50%",
      "a,b", "línea", "😀", "tab\there", "nl\nhere", "\\N")
    samples.foreach { s =>
      val enc = ManifestSink.encodeString(s)
      assert(enc === java.net.URLEncoder.encode(s, "UTF-8"),
        s"fast/slow encode must agree for '$s'")
      assert(ManifestSink.decodeString(enc) === s,
        s"round-trip must hold for '$s'")
    }
  }

  test("StrBin compares in UTF-8 byte order where String order disagrees") {
    val emoji = "\uD83D\uDE00" // U+1F600, UTF-8 F0 9F 98 80
    val pua = "\uE000"         // U+E000,  UTF-8 EE 80 80
    assert(emoji < pua, "UTF-16 code-unit order: emoji below U+E000")
    assert(StrBin.cmp(emoji, pua) > 0, "UTF-8 byte order: emoji above")
    assert(StrBin.min(emoji, pua) === pua)
    assert(StrBin.max(emoji, pua) === emoji)
    // the writer's stats for rows {pua, emoji} are (pua, emoji) in
    // UTF-8 order; an equality probe for the emoji must overlap
    val part = ColStat('s', pua, emoji)
    assert(part.strOverlaps(Some(emoji), Some(emoji)),
      "UTF-16 comparison would prune the part that holds the row")
    assert(!part.strOverlaps(Some(emoji + "z"), None),
      "probes above the UTF-8 max still prune")
  }
}
