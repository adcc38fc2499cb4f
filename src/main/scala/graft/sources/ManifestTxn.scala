package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** MULTI-TABLE ATOMIC COMMIT (catalog-level transactions — the
  * Nessie / "one commit across N tables" shape): a pipeline stages
  * each table's changes on a SHARED txn branch (`txn-<id>`, invisible
  * to main readers — the ordinary WAP machinery), then publishes them
  * all with ONE catalog-level commit point.
  *
  * The protocol is stage → marker → roll-forward:
  *
  *  1. STAGE — ordinary branch writes per table (`option("branch",
  *     "txn-<id>")` / `graft.branch`). Main is untouched; a crash here
  *     leaves every table at its prior snapshot. The leftover branch
  *     commits are NOT harmless if the SAME id will be re-staged: an
  *     `append` onto the crashed attempt's branch would publish the
  *     crashed rows plus the replay's. A replay-prone caller (a
  *     foreachBatch epoch) must therefore run [[abortStaged]] after
  *     `!isCommitted` and before staging — it drops any stale
  *     `txn-<id>` branches so the replay stages from a clean slate
  *     (and refuses to touch a committed txn's branches, which
  *     roll-forward still needs).
  *  2. COMMIT POINT — after verifying EVERY declared table has staged
  *     commits AND its recorded fork base is still main's head (a
  *     concurrent main commit aborts the whole txn loudly, before
  *     anything published), ONE marker file
  *     (`<warehouse>/_txn/<id>.commit`) is created atomically
  *     (tmp + no-overwrite rename — the same claim primitive as a
  *     snapshot). The marker IS the transaction: it records each
  *     table's dir, branch head and fork base. A crash BEFORE the
  *     rename ⇒ the txn never happened (no table advanced); a crash
  *     AFTER ⇒ the txn is durably committed and recovery completes it.
  *  3. ROLL-FORWARD — each table's branch head publishes as main
  *     version forkBase+1 with op label `txn:<id>` via the normal
  *     optimistic claim pinned at the fork base. IDEMPOTENT: a table
  *     whose forkBase+1 already carries this txn's label is skipped,
  *     so re-running recovery after a crash mid-roll-forward is safe.
  *     Completion archives the marker to `<id>.applied` and drops the
  *     txn branches.
  *
  * Honesty notes (spec-pinned): between marker and roll-forward,
  * per-table VISIBILITY is not yet simultaneous — the guarantee is
  * all-or-nothing DURABILITY (no permanently half-published state:
  * either no table advanced, or recovery completes every table). A
  * foreign main commit that steals a table's forkBase+1 slot inside
  * that window makes recovery fail LOUDLY (never a silent partial
  * publish) — the same race contract as Iceberg's WAP publish.
  * Everything is O(tables + parts) driver metadata; no data moves at
  * commit (the staged part files have lived in each table's directory
  * since the branch writes).
  *
  * Generalizes the reference's single-record produce-and-publish
  * (reference: tasks.py:19-29 Luigi target semantics) to the
  * multi-table pipeline case: bronze→silver→gold publishing as one
  * epoch instead of three independently-failing commits.
  */
object ManifestTxn {

  /** One table's staged state recorded in the marker. */
  final case class TxnEntry(dir: String, branchHead: Int, forkBase: Int)

  def branchOf(id: String): String = s"txn-$id"

  private def txnRoot(warehouse: String) = new Path(warehouse, "_txn")
  private def markerName(id: String) = s"$id.commit"
  private def markerPath(warehouse: String, id: String) =
    new Path(txnRoot(warehouse), markerName(id))
  private def appliedPath(warehouse: String, id: String) =
    new Path(txnRoot(warehouse), s"$id.applied")

  /** Phase 2's verification + the atomic COMMIT POINT. Throws (and
    * publishes nothing) when a declared table has no staged commits,
    * when main advanced past a recorded fork base, or when the txn id
    * was already committed. Returns the verified entries. */
  def stageMarker(conf: Configuration, warehouse: String, id: String,
      tableDirs: Seq[String]): Seq[TxnEntry] = {
    require(id.nonEmpty && ManifestLog.validBranch(branchOf(id)),
      s"invalid txn id '$id'")
    require(tableDirs.nonEmpty, "txn declares no tables")
    val branch = branchOf(id)
    val entries = tableDirs.map { dir =>
      val log = ManifestLog(conf, dir)
      val bvs = log.branchVersions(branch)
      require(bvs.nonEmpty,
        s"txn '$id': no staged commits on branch '$branch' at $dir — " +
          "aborting BEFORE the commit point; no table has advanced")
      val fork = log.snapshot(Ref.Branch(branch, Some(1))).header.fork
        .getOrElse(0)
      val mainHead = log.head
      if (mainHead != fork)
        throw new java.util.ConcurrentModificationException(
          s"txn '$id': $dir advanced from fork base $fork to $mainHead " +
            "while the txn was staging; aborting BEFORE the commit " +
            "point — re-stage against the new head")
      TxnEntry(dir, bvs.last, fork)
    }
    val fs = txnRoot(warehouse).getFileSystem(conf)
    if (fs.exists(markerPath(warehouse, id)) ||
        fs.exists(appliedPath(warehouse, id)))
      throw new IllegalStateException(s"txn '$id' already committed")
    // the COMMIT POINT: one atomic no-overwrite rename
    if (!MetaJson.claim(conf, txnRoot(warehouse), markerName(id),
        MetaJson.encodeTxnMarker(entries)))
      throw new java.io.IOException(s"cannot claim txn marker for '$id'")
    entries
  }

  private def readMarker(conf: Configuration, warehouse: String,
      id: String): Option[Seq[TxnEntry]] =
    MetaJson.read(conf, markerPath(warehouse, id))
      .map(MetaJson.decodeTxnMarker)

  /** Phase 3 — idempotent roll-forward of a committed marker: publish
    * each table's staged branch head as main version forkBase+1
    * labeled `txn:<id>`; skip tables already carrying the label
    * (crash-recovery re-runs are no-ops there). Completes by dropping
    * the txn branches and archiving the marker. Returns the number of
    * tables newly published (0 = fully recovered already / no marker). */
  def rollForward(conf: Configuration, warehouse: String,
      id: String): Int = {
    val entries = readMarker(conf, warehouse, id).getOrElse(return 0)
    val label = s"txn:$id"
    val branch = branchOf(id)
    var published = 0
    entries.foreach { e =>
      val target = e.forkBase + 1
      val log = ManifestLog(conf, e.dir)
      val head = log.head
      val applied = head >= target && log.snapshot(Ref.At(target)).op == label
      if (!applied) {
        if (head != e.forkBase)
          throw new java.util.ConcurrentModificationException(
            s"txn '$id': ${e.dir} advanced to $head past fork base " +
              s"${e.forkBase} before roll-forward claimed $target — the " +
              "txn is durably committed but cannot complete on this " +
              "table; resolve the foreign commit and re-run recovery")
        // publish the STAGED branch head (pinned at the recorded
        // version — later branch debris never leaks in) onto the fork
        // base, pinned
        val staged = log.snapshot(Ref.Branch(branch, Some(e.branchHead)))
        val (schema, cm) = staged.header.schemaCm.getOrElse(
          throw new IllegalStateException(
            s"txn '$id': branch '$branch' at ${e.dir} has no schema"))
        ManifestSink.publishRebase(conf, e.dir, _ => staged.parts,
          HeaderChange.Restate(schema, cm, staged.header.table),
          base = Some(log.snapshot(Ref.At(e.forkBase))), op = label)
        published += 1
      }
    }
    // completion: drop the now-published branches, archive the marker
    entries.foreach(e => ManifestMaintenance.dropBranch(conf, e.dir, branch))
    val fs = txnRoot(warehouse).getFileSystem(conf)
    val (marker, archived) =
      (markerPath(warehouse, id), appliedPath(warehouse, id))
    if (!fs.rename(marker, archived)) {
      // a racing recovery may have archived first — then our marker
      // copy is redundant and deletes; any other failure must surface,
      // or the pending marker would make every future txn_recover
      // re-walk all tables while 'already committed' blocks the id
      if (fs.exists(archived)) fs.delete(marker, false)
      else throw new java.io.IOException(
        s"txn '$id': cannot archive marker to $archived")
    }
    published
  }

  /** Pre-staging hygiene for REPLAY-PRONE callers (crash-restarted
    * foreachBatch epochs): drops any `txn-<id>` branch left by a
    * crashed staging attempt so the replay stages from a clean slate —
    * without this, re-staging with `append` onto the leftover branch
    * would publish the crashed attempt's rows PLUS the replay's.
    * Refuses (throws) when the txn already claimed its commit point:
    * a committed-but-unrecovered txn's branches are exactly what
    * [[rollForward]] publishes, and must not be dropped. Returns the
    * number of stale branches dropped.
    *
    * CONCURRENCY CONTRACT: one live committer per txn id. The
    * isCommitted probe and the branch drops are not one atomic step,
    * so a ZOMBIE driver racing this abort with its own commit of the
    * SAME id could claim the marker after the probe and then find its
    * staged branches gone — rollForward fails LOUDLY there (missing
    * branch meta throws; nothing silently publishes), but the txn
    * can no longer complete. Streaming replay ownership (one active
    * query per checkpoint) satisfies the contract; anything weaker
    * must fence old committers externally before replaying an id. */
  def abortStaged(conf: Configuration, warehouse: String, id: String,
      tableDirs: Seq[String]): Int = {
    if (isCommitted(conf, warehouse, id))
      throw new IllegalStateException(
        s"txn '$id' already committed — its staged branches are " +
          "needed by roll-forward; run txn_recover instead of abort")
    val branch = branchOf(id)
    tableDirs.count(d => ManifestMaintenance.dropBranch(conf, d, branch) > 0)
  }

  /** True when txn `id` has already claimed its commit point (marker
    * pending or applied) — the idempotence probe a replay-prone
    * caller (a foreachBatch epoch) checks BEFORE staging anything. */
  def isCommitted(conf: Configuration, warehouse: String,
      id: String): Boolean = {
    val fs = txnRoot(warehouse).getFileSystem(conf)
    fs.exists(markerPath(warehouse, id)) ||
      fs.exists(appliedPath(warehouse, id))
  }

  /** The user-facing commit: verify + marker + roll-forward in one
    * call. Any failure BEFORE the marker leaves every table at its
    * prior snapshot; a crash after it is completed by [[rollForward]]
    * (re-callable; also surfaced as `CALL txn_recover`). */
  def commit(conf: Configuration, warehouse: String, id: String,
      tableDirs: Seq[String]): Int = {
    stageMarker(conf, warehouse, id, tableDirs)
    rollForward(conf, warehouse, id)
  }
}
