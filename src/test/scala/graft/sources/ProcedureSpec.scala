package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._


/** SQL stored procedures over the manifest catalog
  * (sources/GraftProcedures.scala): `CALL graftcat.system.<proc>` via
  * Spark 4's native ProcedureCatalog. Pins the discovery surface
  * (SHOW PROCEDURES / DESCRIBE PROCEDURE), named + positional
  * arguments, parameter defaults, result rows, and the semantics of
  * each maintenance procedure — including that `compact` applies
  * deletion-vector masks and that `expire_snapshots` never reclaims a
  * file a retained snapshot references. */
class ProcedureSpec extends graft.SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-procspec").toString
    spark.conf.set("spark.sql.catalog.gps", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gps.warehouse", d)
    d
  }

  private def conf = spark.sessionState.newHadoopConf()

  private def writeTable(name: String, n: Long, parts: Int): String = {
    import spark.implicits._
    val t = s"$wh/ns/$name"
    (0L until n).map(i => (i, i * 2)).toDF("k", "v")
      .repartition(parts)
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("overwrite").save()
    t
  }

  test("SHOW PROCEDURES lists the registry; DESCRIBE PROCEDURE describes one") {
    wh
    val shown = spark.sql("SHOW PROCEDURES IN gps.system").collect()
      .map(_.getAs[String]("procedure_name")).toSet
    assert(shown === Set("compact", "compact_vectors", "expire_snapshots",
      "remove_orphan_files", "rollback", "fast_forward",
      "cherrypick_snapshot", "drop_branch", "tag", "drop_tag",
      "create_mv", "refresh_mv", "clone", "analyze", "set_layout",
      "txn_commit", "txn_recover"))
    val desc = spark.sql("DESCRIBE PROCEDURE gps.system.compact")
      .collect().map(_.toString).mkString("\n")
    assert(desc.contains("compact"))
  }

  test("unknown procedure and wrong namespace fail loudly") {
    wh
    val e1 = intercept[Exception] {
      spark.sql("CALL gps.system.no_such_proc()").collect()
    }
    assert(e1.getMessage.contains("no_such_proc") ||
      e1.getMessage.contains("not found") || e1.getMessage.contains("unknown"))
    intercept[Exception] {
      spark.sql("CALL gps.other.compact(table => 'ns.t', target_parts => 1)")
        .collect()
    }
  }

  test("compact: 8 parts -> 2 range-clustered parts, rows intact, one snapshot") {
    val t = writeTable("cmp", 1000L, 8)
    val res = spark.sql(
      "CALL gps.system.compact(table => 'ns.cmp', target_parts => 2, " +
        "cluster_by => 'k')").collect()
    assert(res.length === 1)
    val r = res.head
    assert(r.getAs[Int]("parts_before") === 8)
    assert(r.getAs[Int]("parts_after") === 2)
    assert(r.getAs[Int]("version") === 2)
    // data identical, layout packed + key-disjoint (range clustering)
    val metas = ManifestLog(conf, t).snapshot().partRanges
    assert(metas.length === 2)
    assert(metas.map(_._2).sum === 1000L)
    val ranges = metas.map(m => (m._3, m._4)).sortBy(_._1)
    assert(ranges(0)._2 < ranges(1)._1, "range-clustered parts overlap")
    assert(spark.sql("SELECT sum(v) FROM gps.ns.cmp").head.getLong(0)
      === (0L until 1000L).map(_ * 2).sum)
    // pre-compaction snapshot still time-travelable
    assert(spark.sql("SELECT count(*) FROM gps.ns.cmp VERSION AS OF 1")
      .head.getLong(0) === 1000L)
  }

  test("compact target_bytes: file count derived from committed byte " +
    "stats; exactly-one-target enforced") {
    val t = writeTable("cmpsz", 1000L, 8)
    // derive the target from the head's own byte stats: asking for
    // half the total per file must resolve to 2 files
    val total = ManifestLog(conf, t).snapshot().parts
      .map(_.bytes).sum
    assert(total > 0L, "fixture parts must carry byte stats")
    val r = spark.sql("CALL gps.system.compact(table => 'ns.cmpsz', " +
      s"target_bytes => ${(total + 1) / 2})").collect().head
    assert(r.getAs[Int]("parts_before") === 8)
    assert(r.getAs[Int]("parts_after") === 2)
    assert(spark.sql("SELECT count(*) FROM gps.ns.cmpsz").head.getLong(0)
      === 1000L)
    // both targets, and neither, refuse loudly
    val both = intercept[Exception] {
      spark.sql("CALL gps.system.compact(table => 'ns.cmpsz', " +
        "target_parts => 2, target_bytes => 1000)")
    }
    assert(both.getMessage.contains("exactly one"))
    val neither = intercept[Exception] {
      spark.sql("CALL gps.system.compact(table => 'ns.cmpsz')")
    }
    assert(neither.getMessage.contains("exactly one"))
  }

  test("compact default cluster_by: positional args, hash layout") {
    writeTable("cmp2", 400L, 16)
    val r = spark.sql("CALL gps.system.compact('ns.cmp2', 4)").collect().head
    assert(r.getAs[Int]("parts_before") === 16)
    assert(r.getAs[Int]("parts_after") === 4)
    assert(spark.sql("SELECT count(*) FROM gps.ns.cmp2").head.getLong(0)
      === 400L)
  }

  test("compact applies deletion-vector masks and clears vectors") {
    val t = writeTable("cmpdv", 500L, 4)
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gps.ns.cmpdv WHERE k % 5 = 0")
    finally spark.conf.unset("graft.delete.mode")
    assert(ManifestLog(conf, t).snapshot().parts.exists(_.hasDv))
    val r = spark.sql(
      "CALL gps.system.compact(table => 'ns.cmpdv', target_parts => 1)")
      .collect().head
    assert(r.getAs[Int]("parts_after") === 1)
    val metas = ManifestLog(conf, t).snapshot().parts
    assert(!metas.exists(_.hasDv), "compacted parts must be vector-free")
    assert(metas.map(_.rows).sum === 400L)
    assert(spark.sql("SELECT count(*) FROM gps.ns.cmpdv").head.getLong(0)
      === 400L)
  }

  test("compact_vectors rewrites only vectored parts") {
    val t = writeTable("cv", 600L, 6)
    spark.conf.set("graft.delete.mode", "mor")
    // range layout would be needed to bound vectored parts; with hash
    // layout every part holds multiples of 7, so all 6 get vectors —
    // delete a single key instead: exactly one part is vectored
    try spark.sql("DELETE FROM gps.ns.cv WHERE k = 123")
    finally spark.conf.unset("graft.delete.mode")
    val vectored = ManifestLog(conf, t).snapshot().parts.count(_.hasDv)
    assert(vectored === 1)
    val r = spark.sql("CALL gps.system.compact_vectors(table => 'ns.cv')")
      .collect().head
    assert(r.getAs[Int]("parts_rewritten") === 1)
    val metas = ManifestLog(conf, t).snapshot().parts
    assert(metas.length === 6 && !metas.exists(_.hasDv))
    assert(spark.sql("SELECT count(*) FROM gps.ns.cv").head.getLong(0) === 599L)
  }

  test("rollback re-commits an old snapshot; expire_snapshots reclaims") {
    val t = writeTable("life", 300L, 2)                       // v1
    spark.sql("INSERT OVERWRITE gps.ns.life SELECT k, v FROM " +
      "gps.ns.life VERSION AS OF 1 WHERE k < 100")            // v2
    val rb = spark.sql(
      "CALL gps.system.rollback(table => 'ns.life', version => 1)")
      .collect().head
    assert(rb.getAs[Int]("version") === 3)
    assert(spark.sql("SELECT count(*) FROM gps.ns.life").head.getLong(0)
      === 300L)
    // keep_last=2 retains [v2, v3]; v1 expires, but its files are
    // referenced by v3 (rollback references, never copies) -> files_deleted
    // counts only v2's unreferenced rewrite output
    val ex = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.life', keep_last => 2, " +
        "orphan_grace_ms => 86400000)").collect().head
    assert(ex.getAs[Int]("versions_expired") === 1)
    assert(ex.getAs[Int]("versions_retained") === 2)
    assert(ex.getAs[Int]("files_deleted") === 0,
      "v1's files are referenced by the rollback head and must survive")
    // head still reads in full after the expiry
    assert(spark.sql("SELECT count(*) FROM gps.ns.life").head.getLong(0)
      === 300L)
    // the expired snapshot now fails loudly
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gps.ns.life VERSION AS OF 1").collect()
    }
  }

  test("compact split_value: refuses off-layout, no-ops on unknown values") {
    writeTable("scopeplain", 40L, 2)
    val ex = intercept[Exception] {
      spark.sql("CALL gps.system.compact(table => 'ns.scopeplain', " +
        "target_parts => 1, split_value => 'x')").collect()
    }
    assert(ex.getMessage.contains("identity-partitioned"))
    spark.sql("CREATE TABLE gps.ns.scoped (k BIGINT, e STRING) " +
      "PARTITIONED BY (e)")
    spark.sql("INSERT INTO gps.ns.scoped VALUES (1, 'a'), (2, 'b')")
    val r = spark.sql("CALL gps.system.compact(table => 'ns.scoped', " +
      "target_parts => 1, split_value => 'nope')").collect().head
    assert(r.getAs[Int]("parts_before") === 0 &&
      r.getAs[Int]("parts_after") === 0,
      "unknown partition value must be a clean no-op")
  }

  test("remove_orphan_files reclaims aged debris, keeps all snapshots " +
    "and young staged files") {
    val t = writeTable("orph", 60L, 2)
    spark.sql("INSERT INTO gps.ns.orph VALUES (1000, 1)") // v2
    // aged crash debris: never referenced by any manifest
    val old = new java.io.File(t, "part-deadbeef-0-0.csv")
    java.nio.file.Files.write(old.toPath, "junk\n".getBytes)
    old.setLastModified(System.currentTimeMillis() - 7200000L)
    // a young staged file: could be an in-flight writer — must survive
    val young = new java.io.File(t, "part-cafebabe-0-0.csv")
    java.nio.file.Files.write(young.toPath, "stage\n".getBytes)
    val dry = spark.sql(
      "CALL gps.system.remove_orphan_files(table => 'ns.orph', " +
        "older_than_ms => 3600000, dry_run => true)").collect().head
    assert(dry.getAs[Int]("files_deleted") === 1)
    assert(old.exists, "dry run must touch nothing")
    val real = spark.sql(
      "CALL gps.system.remove_orphan_files(table => 'ns.orph', " +
        "older_than_ms => 3600000)").collect().head
    assert(real.getAs[Int]("files_deleted") === 1)
    assert(!old.exists && young.exists,
      "aged orphan reclaimed; young staged file guarded")
    // nothing expired: every snapshot still readable
    assert(real.getAs[Int]("versions_retained") === 2)
    assert(spark.sql("SELECT count(*) FROM gps.ns.orph VERSION AS OF 1")
      .head.getLong(0) === 60L)
    assert(spark.sql("SELECT count(*) FROM gps.ns.orph").head.getLong(0)
      === 61L)
  }

  test("expire_snapshots default orphan_grace_ms binds from the declared default") {
    writeTable("defg", 50L, 1)
    val ex = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.defg', keep_last => 1)")
      .collect().head
    assert(ex.getAs[Int]("versions_expired") === 0)
    assert(ex.getAs[Int]("versions_retained") === 1)
  }

  test("expire_snapshots older_than: past cutoff expires nothing young, " +
    "future cutoff degenerates to keep_last, tags always pin") {
    writeTable("ret", 60L, 2)                                    // v1
    spark.sql("INSERT INTO gps.ns.ret VALUES (1000, 1)")         // v2
    spark.sql("INSERT INTO gps.ns.ret VALUES (1001, 2)")         // v3
    // cutoff in the PAST (epoch): nothing is old enough — time-based
    // retention must not expire a single snapshot, whatever keep_last
    val past = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.ret', " +
        "keep_last => 1, older_than => TIMESTAMP '1990-01-01 00:00:00')")
      .collect().head
    assert(past.getAs[Int]("versions_expired") === 0)
    assert(past.getAs[Int]("versions_retained") === 3)
    // tag v1, then a FUTURE cutoff with keep_last=1: v1 survives via
    // the tag pin, v3 via keep_last, only v2 expires
    spark.sql("CALL gps.system.tag(table => 'ns.ret', " +
      "name => 'pinned', version => 1)")
    val fut = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.ret', " +
        "keep_last => 1, older_than => TIMESTAMP '2100-01-01 00:00:00')")
      .collect().head
    assert(fut.getAs[Int]("versions_expired") === 1,
      "only the untagged, non-head snapshot expires")
    assert(fut.getAs[Int]("versions_retained") === 2)
    assert(spark.sql(
      "SELECT count(*) FROM gps.ns.ret VERSION AS OF 'pinned'")
      .head.getLong(0) === 60L, "tagged snapshot still reads")
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gps.ns.ret VERSION AS OF 2").collect()
    }
    // everything tagged: nothing can expire
    spark.sql("CALL gps.system.tag(table => 'ns.ret', " +
      "name => 'head3', version => 3)")
    val all = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.ret', " +
        "keep_last => 1, older_than => TIMESTAMP '2100-01-01 00:00:00')")
      .collect().head
    assert(all.getAs[Int]("versions_expired") === 0,
      "tag pins beat the retention policy")
    // keep_last itself now binds from its declared default (1)
    val dflt = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.ret')")
      .collect().head
    assert(dflt.getAs[Int]("versions_retained") === 2)
  }

  test("fast_forward publishes a branch head; drop_branch cleans up") {
    import spark.implicits._
    val t = writeTable("wap", 100L, 2)                        // main v1
    (1000L until 1100L).map(i => (i, i * 2)).toDF("k", "v")
      .write.format("graft.sources.ManifestSource")
      .option("path", t).option("branch", "audit")
      .mode("append").save()
    // main readers see nothing of the staged branch commit
    assert(spark.sql("SELECT count(*) FROM gps.ns.wap").head.getLong(0)
      === 100L)
    val ff = spark.sql(
      "CALL gps.system.fast_forward(table => 'ns.wap', branch => 'audit')")
      .collect().head
    assert(ff.getAs[Int]("version") === 2)
    assert(spark.sql("SELECT count(*) FROM gps.ns.wap").head.getLong(0)
      === 200L)
    val db = spark.sql(
      "CALL gps.system.drop_branch(table => 'ns.wap', branch => 'audit')")
      .collect().head
    assert(db.getAs[Int]("versions_removed") === 1)
    assert(ManifestLog(conf, t).branches.isEmpty)
    // publishing a dropped (now-empty) branch fails loudly
    intercept[Exception] {
      spark.sql(
        "CALL gps.system.fast_forward(table => 'ns.wap', branch => 'audit')")
        .collect()
    }
  }

  test("procedures against a missing table fail with the table name") {
    wh
    val e = intercept[Exception] {
      spark.sql("CALL gps.system.compact(table => 'ns.ghost', " +
        "target_parts => 1)").collect()
    }
    assert(e.getMessage.contains("ns.ghost"))
  }

  test("tags: pin, resolve by name, survive expiry, drop releases the pin") {
    val t = writeTable("tags", 200L, 2)                        // v1
    // default version => head
    val tg = spark.sql(
      "CALL gps.system.tag(table => 'ns.tags', name => 'rel-1')")
      .collect().head
    assert(tg.getAs[String]("name") === "rel-1")
    assert(tg.getAs[Int]("version") === 1)
    // tags are immutable: re-tagging the same name fails loudly
    intercept[Exception] {
      spark.sql("CALL gps.system.tag(table => 'ns.tags', name => 'rel-1')")
        .collect()
    }
    spark.sql("INSERT OVERWRITE gps.ns.tags " +
      "SELECT k, v FROM gps.ns.tags VERSION AS OF 1 WHERE k < 50")  // v2
    spark.sql("INSERT OVERWRITE gps.ns.tags " +
      "SELECT k, v FROM gps.ns.tags VERSION AS OF 2 WHERE k < 10")  // v3
    // VERSION AS OF '<tag>' resolves the pinned snapshot
    assert(spark.sql("SELECT count(*) FROM gps.ns.tags VERSION AS OF 'rel-1'")
      .head.getLong(0) === 200L)
    // keep_last=1 would expire v1 and v2 — the tag pins v1
    val ex = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.tags', " +
        "keep_last => 1, orphan_grace_ms => 86400000)").collect().head
    assert(ex.getAs[Int]("versions_expired") === 1)   // only v2
    assert(ex.getAs[Int]("versions_retained") === 2)  // v1 (tagged) + v3
    assert(spark.sql("SELECT count(*) FROM gps.ns.tags VERSION AS OF 'rel-1'")
      .head.getLong(0) === 200L, "tagged snapshot must survive expiry")
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gps.ns.tags VERSION AS OF 2").collect()
    }
    // dropping the tag releases the pin: next expiry reclaims v1
    spark.sql("CALL gps.system.drop_tag(table => 'ns.tags', name => 'rel-1')")
    val ex2 = spark.sql(
      "CALL gps.system.expire_snapshots(table => 'ns.tags', " +
        "keep_last => 1, orphan_grace_ms => 86400000)").collect().head
    assert(ex2.getAs[Int]("versions_expired") === 1)
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gps.ns.tags VERSION AS OF 'rel-1'")
        .collect()
    }
    // dropping an unknown tag fails loudly
    intercept[Exception] {
      spark.sql("CALL gps.system.drop_tag(table => 'ns.tags', name => 'nope')")
        .collect()
    }
  }

  test("expire_snapshots dry_run reports without touching anything") {
    import spark.implicits._
    val t = writeTable("dryrun", 100, 2)             // v1: 2 parts
    (100L until 200L).map(i => (i, i)).toDF("k", "v").repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", t).mode("overwrite").save()
    def files() = new org.apache.hadoop.fs.Path(t).getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(t))
      .count(st => ManifestSink.isPartFile(st.getPath.getName))
    val before = files()
    val dry = spark.sql("CALL gps.system.expire_snapshots(" +
      "table => 'ns.dryrun', keep_last => 1, " +
      "orphan_grace_ms => 86400000, dry_run => true)").head
    assert(dry.getAs[Int]("versions_expired") === 1)
    assert(dry.getAs[Int]("files_deleted") === 2, "v1's 2 parts reclaimable")
    assert(files() === before, "dry run must delete nothing")
    assert(spark.sql("SELECT count(*) FROM gps.ns.dryrun VERSION AS OF 1")
      .head.getLong(0) === 100L, "expired-candidate snapshot still reads")
    // the real run does exactly what the dry run predicted
    val real = spark.sql("CALL gps.system.expire_snapshots(" +
      "table => 'ns.dryrun', keep_last => 1, " +
      "orphan_grace_ms => 86400000)").head
    assert(real.getAs[Int]("versions_expired") === 1)
    assert(real.getAs[Int]("files_deleted") === 2)
    assert(files() === before - 2)
  }

  test("expire_snapshots reclaims crashed-maintenance staging dirs past " +
    "the grace gate, never young ones") {
    // plant crash debris — a compaction or REPLACE WHERE stage — and
    // an MV-refresh stage
    for ((debris, i) <- Seq("_compact-write-deadbeef", "_cow-read-deadbeef")
        .zipWithIndex) {
      val t = writeTable(s"tmpdirs$i", 50, 1)
      val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(conf)
      val stale = new org.apache.hadoop.fs.Path(t, debris)
      val young = new org.apache.hadoop.fs.Path(t, "_mv-plus-cafebabe")
      fs.mkdirs(stale); fs.mkdirs(young)
      fs.setTimes(stale, System.currentTimeMillis() - 7L * 86400000L, -1)
      val r = spark.sql("CALL gps.system.expire_snapshots(" +
        s"table => 'ns.tmpdirs$i', keep_last => 1, " +
        "orphan_grace_ms => 86400000)").head
      assert(r.getAs[Int]("files_deleted") === 1, s"only the STALE $debris")
      assert(!fs.exists(stale), s"week-old crash debris $debris reclaimed")
      assert(fs.exists(young), "a possibly-live stage survives the gate")
      assert(spark.sql(s"SELECT count(*) FROM gps.ns.tmpdirs$i")
        .head.getLong(0) === 50L)
      fs.delete(young, true)
    }
  }

  test("clone: zero-copy fork — by reference, version-pinned, divergent, vacuum-independent") {
    import spark.implicits._
    val src = writeTable("clsrc", 300, 3)            // v1: k in [0, 300)
    (300L until 400L).map(i => (i, i * 2)).toDF("k", "v")
      .repartition(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", src).mode("append").save()
    // clone v1 by NAME — not the head
    val r = spark.sql("CALL gps.system.clone(source_table => 'ns.clsrc', " +
      "target_table => 'ns.clfork', version => 1)").head
    assert(r.getInt(0) === 1 && r.getInt(1) === 3 && r.getLong(2) === 300L)
    // zero data files under the clone dir: the snapshot is references
    val cloneDir = new org.apache.hadoop.fs.Path(s"$wh/ns/clfork")
    def cloneFiles() = cloneDir.getFileSystem(conf).listStatus(cloneDir)
      .count(st => ManifestSink.isPartFile(st.getPath.getName))
    assert(cloneFiles() === 0, "shallow clone must copy no data")
    assert(spark.sql("SELECT count(*) FROM gps.ns.clfork").head.getLong(0)
      === 300L, "clone serves the pinned snapshot, not the source head")
    // divergence: append to the clone; the source head is untouched
    (1000L until 1100L).map(i => (i, i)).toDF("k", "v")
      .repartition(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/clfork")
      .mode("append").save()
    assert(spark.sql("SELECT count(*) FROM gps.ns.clfork").head.getLong(0)
      === 400L)
    assert(spark.sql("SELECT count(*) FROM gps.ns.clsrc").head.getLong(0)
      === 400L, "source rows unchanged by the clone's append")
    // vacuum independence: expiring the CLONE's history reclaims only
    // files under the clone dir — the referenced source files survive
    val srcFiles = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(src))
      .count(st => ManifestSink.isPartFile(st.getPath.getName))
    spark.sql("CALL gps.system.expire_snapshots(table => 'ns.clfork', " +
      "keep_last => 1, orphan_grace_ms => 86400000)").collect()
    assert(new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(src))
      .count(st => ManifestSink.isPartFile(st.getPath.getName)) === srcFiles,
      "clone maintenance must never reclaim source data")
    assert(spark.sql("SELECT count(*) FROM gps.ns.clfork").head.getLong(0)
      === 400L)
    // an existing target is rejected loudly
    intercept[Exception] {
      spark.sql("CALL gps.system.clone(source_table => 'ns.clsrc', " +
        "target_table => 'ns.clfork')").collect()
    }
  }
}
