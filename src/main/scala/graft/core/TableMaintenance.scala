package graft.core

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Small-file compaction for landed parquet tables. Every append-mode
  * pipeline run emits its own part files, so a table receiving frequent
  * small batches (CDC ticks, per-poll REST pulls) accumulates thousands
  * of KB-sized files — and at cluster scale the scan cost becomes file
  * OPENS, not bytes (driver listing, footer reads, one task per tiny
  * split). Compaction bin-packs only the under-`minFileBytes` files into
  * ~`targetBytes` outputs and leaves right-sized files untouched, so the
  * rewrite cost is proportional to the small-file backlog, never the
  * table.
  *
  * Crash safety on a plain parquet directory (no manifest to swap): each
  * bin commits through a marker protocol built on single-file rename
  * atomicity —
  *
  *   1. the bin's rows are written to a scratch dir and the output file
  *      is renamed to its final name ONLY after a `_compacting_<id>`
  *      marker at the table root (listing the new file + the originals
  *      it replaces) is in place;
  *   2. originals are deleted after the new file is in;
  *   3. the marker is deleted last, and only once every original is
  *      gone: a delete that leaves one keeps the marker and fails.
  *
  * `repair` replays an interrupted protocol from the marker: if the new
  * file made it in, finish deleting the originals (idempotent); if not,
  * nothing happened — drop the marker. A reader between steps 2 and 3
  * could see replaced rows twice; the single-writer-per-table model makes
  * maintenance part of the writer's duty cycle, and that model is
  * ENFORCED by `TableLock`: every pass runs in [[TableWriter.leased]], the
  * section TableWriter's own writes run in (the table lease, then
  * [[StagedSwap.repair]] and [[repair]]), so two pipelines cannot
  * interleave a staged swap with a compaction rewrite, and no write reads
  * a table a crashed compaction left with rows twice.
  */
object TableMaintenance {

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def dataFiles(fs: FileSystem, dir: Path): Seq[(Path, Long)] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath, s.getLen))

  /** Greedy first-fit bin packing of (path, size) pairs into bins of at
    * most `targetBytes` (a lone oversize file would never be in `small`).
    */
  private def pack(files: Seq[(Path, Long)], targetBytes: Long): Seq[Seq[(Path, Long)]] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[(Path, Long)], Long)]
    files.sortBy(-_._2).foreach { f =>
      bins.indexWhere(_._2 + f._2 <= targetBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), f._2))
        case i  => val (b, sz) = bins(i); b += f; bins(i) = (b, sz + f._2)
      }
    }
    bins.map(_._1.toSeq).toSeq
  }

  /** Compact `path`'s small files. Returns (filesBefore, filesAfter).
    * Bins with a single member are left alone — rewriting one small file
    * into another buys nothing.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFileBytes: Long = 16L * 1024 * 1024): (Int, Int) =
    TableWriter.leased(spark, path, "compaction") {
      val (fs, dir) = fsOf(spark, path)
      val all = dataFiles(fs, dir)
      val small = all.filter(_._2 < minFileBytes)
      val bins = pack(small, targetBytes).filter(_.size > 1)
      val scratch = new Path(dir, ".compact_scratch")
      bins.zipWithIndex.foreach { case (bin, i) =>
        val id = java.util.UUID.randomUUID().toString.take(8)
        val outName = s"compacted-$id.parquet"
        // one output file per bin: the bin was sized to targetBytes
        val binScratch = new Path(scratch, s"bin_$i")
        spark.read.option("mergeSchema", "true")
          .parquet(bin.map(_._1.toString): _*)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(binScratch.toString)
        val produced = dataFiles(fs, binScratch)
        require(produced.size == 1, s"expected one part file, got ${produced.size}")
        // the marker itself must appear atomically: write it in scratch,
        // rename into place (a crash mid-write would otherwise leave a
        // truncated marker that repair can't interpret)
        val marker = new Path(dir, s"_compacting_$id")
        val markerTmp = new Path(binScratch, s"_compacting_$id")
        val payload = (outName +: bin.map(_._1.getName)).mkString("\n")
        require(EpochFiles.create(fs, markerTmp, payload.getBytes(StandardCharsets.UTF_8)),
          s"marker $markerTmp already exists")
        require(fs.rename(markerTmp, marker), s"marker rename failed for $marker")
        // rename returns FALSE (not throws) on most failure modes; deleting
        // the originals after a failed rename would lose the bin's rows, so
        // back out (drop the marker, keep the originals) and fail loudly
        if (!fs.rename(produced.head._1, new Path(dir, outName))) {
          fs.delete(marker, false)
          throw new java.io.IOException(
            s"compaction rename failed for $outName; originals left in place")
        }
        bin.foreach { case (p, _) => deleteOriginal(fs, p, marker) }
        fs.delete(marker, false)
      }
      if (fs.exists(scratch)) fs.delete(scratch, true)
      (all.size, dataFiles(fs, dir).size)
    }

  /** Delete an original the compacted file `marker` names replaced. A
    * delete that leaves it in place would keep the bin's rows twice: the
    * marker stays for the next leased [[repair]] to retry, and this fails
    * naming the file.
    */
  private def deleteOriginal(fs: FileSystem, original: Path, marker: Path): Unit =
    if (!fs.delete(original, false) && fs.exists(original))
      throw new java.io.IOException(
        s"compaction could not delete the replaced file $original; $marker is kept for the next repair")

  /** Replay interrupted compaction markers (see protocol above): one
    * listing of the table root, where every marker lives, so a clean
    * table costs one `listStatus`. [[TableWriter.leased]] runs it before
    * every write and maintenance pass reads the table.
    */
  def repair(spark: SparkSession, path: String): Unit = {
    val (fs, root) = fsOf(spark, path)
    if (fs.exists(root))
      fs.listStatus(root).filter(s => s.isFile && s.getPath.getName.startsWith("_compacting_")).foreach { m =>
        val in = fs.open(m.getPath)
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        in.close()
        // a malformed/empty marker means the data rename (which happens
        // strictly after the marker is complete) never ran — originals
        // are intact, just drop it (markers are rename-committed, so this
        // is defense in depth, not an expected state)
        lines match {
          case newName :: olds =>
            if (fs.exists(new Path(root, newName)))
              // new file landed: finish deleting the originals it replaced
              olds.foreach(o => deleteOriginal(fs, new Path(root, o), m.getPath))
          // else: rename never happened — originals are intact
          case Nil => ()
        }
        fs.delete(m.getPath, false)
      }
  }

  /** OPTIMIZE-style Z-order re-cluster: a full rewrite of the table
    * range-partitioned and sorted by the [[ZOrder]] curve of `cols`, so
    * every output file is a tight box in every listed dimension (the
    * Delta `OPTIMIZE ... ZORDER BY` equivalent on plain parquet).
    * Complementary to [[compact]]: compaction fixes FILE COUNT
    * proportionally to the small-file backlog without moving rows
    * between key ranges; this pass fixes DATA LAYOUT with a full
    * rewrite — run it when multi-dimensional scan pruning is worth a
    * table pass (BASELINE.md, "Z-order layout benefit": 71x row-group
    * pruning on a 0.37% 2-D box). Commits through the same staged swap
    * ([[StagedSwap]]) as the merge writer, under the same single-writer
    * lease. Returns (rows, filesAfter); rows come from the rewritten
    * files' parquet footers, not a scan.
    */
  def optimizeZOrder(spark: SparkSession, path: String, cols: Seq[String],
      bits: Int = 16, numFiles: Int = 0,
      bloomCols: Seq[String] = Nil, bloomNdv: Long = 1000000L): (Long, Int) =
    TableWriter.leased(spark, path, "zorder") {
      val df = spark.read.parquet(path)
      val z = ZOrder.withZValue(df, cols, bits)
      val parted =
        if (numFiles > 0) z.repartitionByRange(numFiles, org.apache.spark.sql.functions.col("z_value"))
        else z.repartitionByRange(org.apache.spark.sql.functions.col("z_value"))
      val clustered = parted.sortWithinPartitions("z_value").drop("z_value")
      // point-lookup skipping for high-cardinality UNSORTED columns, the
      // case z-range stats can't help: parquet bloom filters per row
      // group (measured: an absent-key probe decodes 0 rows vs the full
      // table without them). The layout pass is where skipping indexes
      // belong — they are a property of the written files.
      val writer = bloomCols.foldLeft(clustered.write) { (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", bloomNdv.toString)
      }
      StagedSwap.overwrite(spark, writer, path)
      val (fs, dir) = fsOf(spark, path)
      (ParquetFooters.rowCount(spark, path), dataFiles(fs, dir).size)
    }
}
