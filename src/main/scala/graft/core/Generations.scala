package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Generation-pointer manifest of the persisted inverted index
  * (`Lexical.Index`), its only user. The gram and IVF stream indexes
  * commit through [[TableManifest]] instead; Lexical stays here because
  * its postings generation is `__tb`-partitioned and its appends commit
  * by per-batch announcements, neither of which a manifest land writes.
  * [[GraceMs]] is also the manifest's reader grace.
  *
  * Problem: an index OPTIMIZE compacts/re-ranks its sub-tables with a
  * staged directory swap. WRITERS are serialized by the
  * [[TableLock]] lease, but ad-hoc READERS (`search`, a probe from a
  * notebook) take no lease — a swap can replace a directory between a
  * reader's file listing and its scan, surfacing as a transient
  * FileNotFound on a plain parquet dir.
  *
  * Fix: sub-tables live in per-generation directories
  * `<root>/<sub>@g<N>` and the committed generation is announced by a
  * marker file `<root>/_gen.e<N>` — readers resolve max(N) and scan
  * directories that are NEVER modified by an optimize (appends add
  * partitions to the current generation, they don't rewrite). An
  * optimize writes the ENTIRE next generation (every sub-table), then
  * commits it by creating the next marker — one atomic create, so a
  * reader sees either the old complete generation or the new complete
  * one, never a half-swapped mix ACROSS sub-tables either (the old
  * two-directory fence window is gone: vectors and centroids flip
  * together). A crash before the commit leaves the old generation
  * intact and fully consistent; re-running the build/optimize overwrites
  * the orphan next-generation dirs and heals.
  *
  * GC keeps a grace counted in generations AND in time: committing N
  * deletes a generation G <= N-2 (dirs and marker) only once its
  * successor's marker is [[GraceMs]] old, so a reader that resolved G
  * fails only if two optimize cycles AND GraceMs pass before its collect.
  *
  * Markers follow the TableLock epoch idiom: state transitions are
  * creates of NEW files ([[EpochFiles.create]]) — no rename, no delete in
  * the commit path — so commit is atomic on any filesystem with atomic
  * create.
  */
object Generations {

  private val MarkerPrefix = "_gen.e"

  /** How long a superseded generation outlives its successor's commit. */
  private[graft] val GraceMs: Long = 10L * 60 * 1000

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Sub-table directory of generation `gen`. */
  def dir(root: String, sub: String, gen: Long): String = s"$root/$sub@g$gen"

  /** Highest committed generation, if the index has ever been built. */
  def current(spark: SparkSession, root: String): Option[Long] = {
    val (fs, p) = fsOf(spark, root)
    EpochFiles.list(fs, p, MarkerPrefix).map(_._1).maxOption
  }

  /** The generation a build/optimize should write: current + 1, or 0 on
    * a virgin root. Leftover dirs at this generation (a crashed prior
    * attempt that never committed) are simply overwritten.
    */
  def next(spark: SparkSession, root: String): Long =
    current(spark, root).map(_ + 1).getOrElse(0L)

  /** Current generation's sub-table dir; loud when the index was never
    * built (a missing manifest must not silently read an empty path).
    */
  def resolve(spark: SparkSession, root: String, sub: String): String =
    dir(root, sub, currentOrFail(spark, root))

  def currentOrFail(spark: SparkSession, root: String): Long =
    current(spark, root).getOrElse(throw new IllegalStateException(
      s"index $root has no committed generation — build it first"))

  /** Commit `gen` by creating its marker. The caller must have finished
    * writing EVERY sub-table of `gen`; single-writer discipline (the
    * index lease) means the marker cannot already exist.
    */
  def commit(spark: SparkSession, root: String, gen: Long): Unit = {
    val (fs, p) = fsOf(spark, root)
    fs.mkdirs(p)
    if (!EpochFiles.create(fs, new Path(p, MarkerPrefix + gen), Array.emptyByteArray))
      throw new IllegalStateException(s"index $root: generation $gen is already committed")
  }

  /** Delete generation dirs and markers <= gen - 2 whose successor's
    * marker is at least [[GraceMs]] old (the grace for in-flight readers;
    * a generation whose successor marker is gone is past it). Best-effort
    * ([[EpochFiles.sweep]]): a failed delete is retried by the next GC.
    */
  def gc(spark: SparkSession, root: String, gen: Long): Unit = {
    val (fs, p) = fsOf(spark, root)
    if (!fs.exists(p)) return
    // (generation, entry): markers are the only files, dirs are `<sub>@g<N>`
    val entries = fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      (if (st.isFile && n.startsWith(MarkerPrefix)) n.stripPrefix(MarkerPrefix).toLongOption
       else if (st.isDirectory && n.contains("@g")) n.substring(n.lastIndexOf("@g") + 2).toLongOption
       else None).map(_ -> st)
    }
    val committedAt = entries.collect { case (g, st) if st.isFile => g -> st.getModificationTime }.toMap
    val graceEnd = System.currentTimeMillis() - GraceMs
    entries.foreach { case (g, st) =>
      if (g <= gen - 2 && committedAt.get(g + 1).forall(_ <= graceEnd)) EpochFiles.sweep(fs, st.getPath, "gc")
    }
  }
}
