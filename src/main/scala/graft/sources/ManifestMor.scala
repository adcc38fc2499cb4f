package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** MERGE-ON-READ DELETE via deletion vectors — the metadata-commit
  * alternative to [[ManifestCow]]'s rewrite (Delta deletion vectors /
  * Iceberg positional deletes): instead of rewriting every affected
  * part, the delete marks the matched rows' ORDINALS in per-part
  * bitmaps and commits ONE tiny snapshot; data files are untouched
  * and every reader masks the flagged rows ([[DeleteVector]]).
  *
  * When to choose which (the same dial real lakehouses expose):
  *  - COW: delete-heavy parts, read-heavy tables — pay the rewrite
  *    once, reads stay mask-free;
  *  - MOR: wide deletes touching many parts sparsely (GDPR erasure of
  *    one user across 100k parts) — pay O(matched rows) of EXECUTOR
  *    work now, a small mask check per read later; compaction
  *    (`q_sink_compact` shape) or any COW rewrite later CLEARS the
  *    vectors naturally because rewrites read through the masking
  *    source.
  *
  * Protocol:
  *  1. scan the table through the normal source with the (`_part`,
  *     `_pos`) metadata address, keeping rows where the predicate is
  *     TRUE (the rows to delete — note the polarity: COW keeps
  *     survivors, MOR records victims);
  *  2. cluster matched ordinals by part and build each part's bitmap
  *     ON AN EXECUTOR, union it with the part's existing vector, and
  *     write it as a SIDECAR file next to the data (staged + renamed,
  *     commit-token-unique name). The driver receives ONE small
  *     (part, sidecar path, cardinality) row per affected part —
  *     never the ordinals — so a delete matching billions of rows
  *     costs the driver the same as one matching ten. This is the
  *     production-format DV shape (Delta's DV files / Iceberg's
  *     positional-delete files);
  *  3. commit one snapshot whose affected parts carry the new sidecar
  *     reference + cardinality, pinned to the base version
  *     (strictBase — a racing commit fails this delete loudly).
  *
  * The change feed replays a vector commit as EXACTLY the
  * newly-flagged ordinals ('delete' rows) — precise row-level CDC,
  * cheaper than COW's part restatement. Time travel reads the old
  * manifest and therefore the old (or no) vector: pre-delete
  * snapshots stay intact by construction.
  */
private[sources] object ManifestMor {

  /** Session conf that routes translatable catalog DELETEs through
    * deletion vectors instead of copy-on-write. */
  val ModeConf = "graft.delete.mode"

  def morEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(ModeConf).exists(_.equalsIgnoreCase("mor"))

  def deleteWhere(path: String, schema: StructType,
      filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val conf = ManifestSink.driverConf()
    val baseVersion = ManifestSink.listVersions(conf, path)
      .lastOption.getOrElse(0)
    val parts = ManifestSink.readManifestMeta(conf, path, Some(baseVersion))

    // rows to DELETE: predicate TRUE (NULL/FALSE rows survive — same
    // three-valued contract as ManifestCow, opposite polarity)
    val pred: Column = filters.map(ManifestCow.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val matched = spark.read.format("graft.sources.ManifestSource")
      .option("path", path)
      .option("version", baseVersion.toString) // pin the scanned base snapshot
      .load()
      .select(col(PartMetaColumn.Name).as("p"), col(PosMetaColumn.Name).as("o"),
        coalesce(pred, lit(false)).as("del"))
      .filter(col("del"))
      .select(col("p"), col("o")).as[(String, Long)]

    // per part: (physical rows, existing vector representation) — the
    // executor building part p's bitmap needs all three, broadcast as
    // a small metadata map (O(parts), never O(rows))
    val meta = spark.sparkContext.broadcast(
      parts.map(m => m.path -> (m.rows, m.dvHex, m.dvRef)).toMap)
    val sconf = new SerializableConfiguration(conf)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tableDir = path

    // two-stage bitmap build:
    //  1. a codegen'd HASH AGGREGATE packs ordinals into 64-bit words
    //     keyed by (part, ordinal>>6) — the partial (map-side) combine
    //     means the shuffle carries ~matched/64 word rows, not one row
    //     per deleted ordinal;
    //  2. each part's words cluster onto one task, which assembles the
    //     bitmap, unions the part's existing vector, writes the
    //     sidecar, and reports only the reference — the collect below
    //     is one tiny row per AFFECTED PART, never per deleted row
    import org.apache.spark.sql.functions.{bit_or, expr, shiftright}
    val updated: Array[(String, String, Long)] = matched.toDF("p", "o")
      .groupBy(col("p"), shiftright(col("o"), 6).as("w"))
      .agg(bit_or(
        expr("shiftleft(CAST(1 AS BIGINT), CAST(o % 64 AS INT))")).as("bits"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (p, it) =>
        val (rows, oldHex, oldRef) = meta.value.getOrElse(p,
          throw new IllegalStateException(s"scan reported unknown part $p"))
        val bits = new Array[Long]((((rows - 1) >>> 6) + 1).toInt)
        it.foreach { case (_, w, ws) =>
          require(w >= 0 && w < bits.length,
            s"ordinal word $w outside part of $rows rows")
          bits(w.toInt) |= ws
        }
        val old =
          if (oldRef.nonEmpty) DeleteVector.readRef(sconf.value, oldRef)
          else DeleteVector.fromHex(oldHex)
        val mergedBits = DeleteVector.union(bits, old)
        val name = DeleteVector.SidecarPrefix + token + "-" +
          new org.apache.hadoop.fs.Path(p).getName + ".hex"
        val ref = DeleteVector.writeRef(sconf.value, tableDir, name, mergedBits)
        (p, ref, DeleteVector.popCount(mergedBits))
      }
      .collect()

    if (updated.isEmpty) return // nothing to delete: no empty commit
    val byPart = updated.map { case (p, ref, card) => p -> (ref, card) }.toMap
    // footprint = the parts whose vectors this delete replaces: the
    // new sidecars were unioned against the BASE snapshot's vectors,
    // so a concurrent commit re-vectoring one of them conflicts; a
    // commit touching only other parts composes through the
    // head-aware rebase
    ManifestSink.publishRebase(conf, path, schema,
      head => head.map(p => byPart.get(p.path)
        .map { case (ref, card) =>
          p.copy(dvHex = "", dvRef = ref, dvCard = card)
        }.getOrElse(p)),
      strictBase = Some(baseVersion), footprint = Some(byPart.keySet),
      op = "delete")
  }
}
