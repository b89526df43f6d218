package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC → index synchronization: make a persisted index match a NEW
  * corpus snapshot in one call, by feeding [[CorpusDiff.diff]]'s
  * change sets through the family's existing lifecycle operations —
  * tombstone the `removed` + `changed` ids first
  * (`deleteFrom*`/`deleteFromAnnIndex`), then append the `added` +
  * `changed` rows (`appendTo*`). The tombstones are LOG-ORDERED
  * ([[graft.sources.IndexIO.withoutTombstoned]]), so the re-appended
  * version of a changed doc lands AFTER its tombstone and serves —
  * the index ends exactly as a one-shot build on the new snapshot
  * would, without touching the unchanged rows.
  *
  * == Scale design ==
  * The diff shuffles `(id, fingerprint)` only (~16 bytes/row whatever
  * the document width); the append legs re-read ONLY the added/changed
  * rows of the new snapshot (a left-semi join against the slim change
  * set — at a steady-state crawl that is the per-day delta, not the
  * corpus); the delete legs publish one broadcast-sized tombstone
  * segment. A no-change sync publishes NOTHING (both legs are gated on
  * the collected per-status counts — the diff frame is materialized
  * once and feeds both legs and the gate).
  */
object IndexSync {

  /** The change sets of `oldSnapshot → newSnapshot` on `contentCols`:
    * `(idsToDelete, rowsToAppend, nDelete, nAppend)` — delete =
    * removed + changed (the old versions must die), append = added +
    * changed (the new versions must serve). The counts let callers
    * skip a lifecycle publish entirely when a leg is empty.
    */
  private def changeSets(
      oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCols: Seq[String]): (DataFrame, DataFrame, Long, Long) = {
    val d = CorpusDiff.diff(oldDf, newDf, idCol, contentCols)
      .localCheckpoint(true) // feeds the counts AND both legs
    val counts = d.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDel = counts.getOrElse("removed", 0L) + counts.getOrElse("changed", 0L)
    val nApp = counts.getOrElse("added", 0L) + counts.getOrElse("changed", 0L)
    val del = d.filter(col("status").isin("removed", "changed")).select(idCol)
    val app = newDf.join(
      d.filter(col("status").isin("added", "changed")).select(idCol),
      Seq(idCol), "left_semi")
    (del, app, nDel, nApp)
  }

  /** Sync a [[Search.buildBm25Index]] artifact to `newSnapshot`
    * (diffed against `oldSnapshot` on `textCol`): tombstones correct
    * the BM25 stats for the dying docs, appends add the new ones —
    * serving afterwards equals a one-shot build on the new snapshot
    * exactly (df/idf/avgdl all land on the new corpus's values).
    */
  def syncBm25Index(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String): Unit = {
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(textCol))
    if (nDel > 0) Search.deleteFromBm25Index(spark, path, del, idCol)
    if (nApp > 0) Search.appendToBm25Index(app, idCol, textCol, path)
  }

  /** [[syncBm25Index]] for the unified lexical artifact
    * ([[Search.buildLexicalIndex]] — tf AND positions): one sync keeps
    * BM25 ranking, phrase retrieval, and the fused hybrid current. The
    * delete goes through [[Search.deleteFromBm25Index]] — its doc-id
    * tombstone covers BOTH serving paths (the anti-join is
    * schema-agnostic) and it corrects the stats the artifact's BM25
    * leg serves from, which the positional-only delete does not carry.
    */
  def syncLexicalIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String): Unit = {
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(textCol))
    if (nDel > 0) Search.deleteFromBm25Index(spark, path, del, idCol)
    if (nApp > 0) Search.appendToLexicalIndex(app, idCol, textCol, path)
  }

  /** Sync a [[Dedup.buildMinhashIndex]] artifact: tombstoned sketches
    * leave the band postings, the added/changed docs re-sketch with
    * the index's own stored banding meta.
    */
  def syncMinhashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String,
      bandBuckets: Int = 64): Unit = {
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(textCol))
    if (nDel > 0) Dedup.deleteFromMinhashIndex(spark, path, del, idCol)
    if (nApp > 0) Dedup.appendToMinhashIndex(app, idCol, textCol, path, bandBuckets)
  }

  /** The shared ANN-family sync: every vector family deletes through
    * the one cells-schema-agnostic [[SimilaritySearch.deleteFromAnnIndex]]
    * and appends through its own frozen-model `appendTo*`.
    */
  private def syncAnn(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String)(
      append: DataFrame => Unit): Unit = {
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(vecCol))
    if (nDel > 0) SimilaritySearch.deleteFromAnnIndex(spark, path, del, idCol)
    if (nApp > 0) append(app)
  }

  /** Sync a [[SimilaritySearch.buildIvfIndex]] artifact: changed/added
    * vectors assign to the FROZEN centroids (no retrain — pair with
    * [[SimilaritySearch.ivfIndexDrift]] to decide when a retrain is
    * due), removed/changed old versions tombstone.
    */
  def syncIvfIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    syncAnn(spark, oldSnapshot, newSnapshot, idCol, vecCol, path)(app =>
      SimilaritySearch.appendToIvfIndex(spark, path, app, idCol, vecCol))

  /** [[syncIvfIndex]] for the SQ8-quantized cells. */
  def syncIvfSq8Index(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    syncAnn(spark, oldSnapshot, newSnapshot, idCol, vecCol, path)(app =>
      SimilaritySearch.appendToIvfSq8Index(spark, path, app, idCol, vecCol))

  /** [[syncIvfIndex]] for the IVF×PQ artifact (frozen centroids AND
    * codebooks encode the appended rows). */
  def syncIvfPqIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    syncAnn(spark, oldSnapshot, newSnapshot, idCol, vecCol, path)(app =>
      SimilaritySearch.appendToIvfPqIndex(app, idCol, vecCol, path))

  /** [[syncIvfIndex]] for the flat PQ code table. */
  def syncPqIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    syncAnn(spark, oldSnapshot, newSnapshot, idCol, vecCol, path)(app =>
      SimilaritySearch.appendToPqIndex(app, idCol, vecCol, path))

  /** Shared perceptual-hash sync: the binary column diffs by content
    * hash exactly like text ([[CorpusDiff.diff]]'s `xxhash64` takes
    * binary), removed/changed ids tombstone, added/changed rows decode
    * ONCE into a fresh hash segment — a re-encoded image/audio blob is
    * a "changed" doc and re-hashes, the rest of the corpus is never
    * re-decoded.
    */
  private def syncPerceptual(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String)(
      delete: DataFrame => Unit)(append: DataFrame => Unit): Unit = {
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(binCol))
    if (nDel > 0) delete(del)
    if (nApp > 0) append(app)
  }

  /** Sync a [[graft.multimodal.Multimodal.buildAHashIndex]] artifact
    * (image average-hash) to a new media snapshot. */
  def syncAHashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String, path: String): Unit = {
    import graft.multimodal.Multimodal
    syncPerceptual(spark, oldSnapshot, newSnapshot, idCol, binCol)(
      del => Multimodal.deleteFromAHashIndex(del, idCol, path))(
      app => Multimodal.appendToAHashIndex(app, idCol, binCol, path))
  }

  /** [[syncAHashIndex]] for the pHash (DCT) index — the tombstone
    * layout is shared, only the hash function differs. */
  def syncPHashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String, path: String): Unit = {
    import graft.multimodal.Multimodal
    syncPerceptual(spark, oldSnapshot, newSnapshot, idCol, binCol)(
      del => Multimodal.deleteFromAHashIndex(del, idCol, path))(
      app => Multimodal.appendToPHashIndex(app, idCol, binCol, path))
  }

  /** [[syncAHashIndex]] for the audio envelope-hash index. */
  def syncAudioHashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String, path: String): Unit = {
    import graft.multimodal.Multimodal
    syncPerceptual(spark, oldSnapshot, newSnapshot, idCol, binCol)(
      del => Multimodal.deleteFromAHashIndex(del, idCol, path))(
      app => Multimodal.appendToAudioHashIndex(app, idCol, binCol, path))
  }

  /** [[syncAHashIndex]] for the shift-robust audio fingerprint index
    * (its own delete — the fingerprint layout is positional). */
  def syncAudioFpIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String, path: String): Unit = {
    import graft.multimodal.Multimodal
    syncPerceptual(spark, oldSnapshot, newSnapshot, idCol, binCol)(
      del => Multimodal.deleteFromAudioFpIndex(del, idCol, path))(
      app => Multimodal.appendToAudioFpIndex(app, idCol, binCol, path))
  }

  /** Sync a [[graft.multimodal.Multimodal.buildSceneIndex]] artifact —
    * the one perceptual family keyed by a FRAMES table (several rows
    * per video), so the content fingerprint is per-video: the XOR of
    * the DISTINCT frames' `xxhash64(frameIdx, frameBin)` — an
    * unordered set hash that any added, dropped, re-cut, or re-encoded
    * frame moves, and that never overflows under ANSI arithmetic the
    * way a SUM of 64-bit hashes does. The distinct step matters: XOR
    * is self-inverse, so a snapshot carrying duplicated frame rows (an
    * at-least-once upstream extract replaying) would cancel pairs and
    * could fingerprint-collide with a genuinely different cut; hashing
    * the SET of (idx, bin) makes repeated rows inert. Changed/removed
    * videos tombstone whole; added/changed videos' frames re-detect
    * scenes in one pass over ONLY those videos.
    */
  def syncSceneIndex(
      spark: SparkSession, oldFrames: DataFrame, newFrames: DataFrame,
      idCol: String, frameIdxCol: String, frameBinCol: String,
      path: String, sceneMaxHamming: Int = 16): Unit = {
    import graft.multimodal.Multimodal
    def fp(df: DataFrame) = df
      .select(col(idCol),
        xxhash64(col(frameIdxCol), col(frameBinCol)).as("__graft_fh"))
      .distinct()
      .groupBy(col(idCol)).agg(bit_xor(col("__graft_fh")).as("__graft_fp"))
    val (del, appIds, nDel, nApp) =
      changeSets(fp(oldFrames), fp(newFrames), idCol, Seq("__graft_fp"))
    if (nDel > 0) Multimodal.deleteFromSceneIndex(del, idCol, path)
    if (nApp > 0) Multimodal.appendToSceneIndex(
      newFrames.join(appIds.select(idCol), Seq(idCol), "left_semi"),
      idCol, frameIdxCol, frameBinCol, path, sceneMaxHamming)
  }

  /** Sync a persisted decontamination eval-hash index
    * ([[Decontaminate.buildEvalIndex]]) to a new BENCHMARK SUITE
    * snapshot — the second retraction family (the artifact carries
    * additive shingle-occurrence counts, [[Decontaminate
    * .deleteFromEvalIndex]]): removed+changed items' counts retract by
    * re-reading the OLD snapshot's rows, added+changed items append
    * their positive profile. The live hash set afterwards equals a
    * one-shot build on the new suite exactly — a hash shared between a
    * withdrawn and a surviving benchmark keeps gating.
    */
  def syncEvalIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String): Unit = {
    import graft.operators.Decontaminate
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(textCol))
    if (nDel > 0) {
      val delRows = oldSnapshot.join(del, Seq(idCol), "left_semi")
      Decontaminate.deleteFromEvalIndex(delRows, textCol, path)
    }
    if (nApp > 0) Decontaminate.appendToEvalIndex(app, textCol, path)
  }

  /** Sync a persisted DSIR model ([[Dsir.buildDsirIndex]]): the one
    * family whose "delete" is a RETRACTION, not a tombstone — the
    * model must unsee the OLD rows' n-gram counts, so the delete leg
    * re-reads the old snapshot's removed+changed DOCUMENTS (a
    * left-semi against the slim change set, the mirror of the append
    * leg) and publishes their negative-count profile segment; the
    * added+changed new rows append their positive one. The chain sum
    * is then EXACTLY the new snapshot's raw profile — additive counts
    * subtract exactly.
    */
  def syncDsirIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String): Unit = {
    val (del, app, nDel, nApp) =
      changeSets(oldSnapshot, newSnapshot, idCol, Seq(textCol))
    if (nDel > 0) {
      val delRows = oldSnapshot.join(del, Seq(idCol), "left_semi")
      Dsir.deleteFromDsirIndex(delRows, textCol, path)
    }
    if (nApp > 0) Dsir.appendToDsirIndex(app, textCol, path)
  }
}
