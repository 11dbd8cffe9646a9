package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.core.TableManifest

/** The manifest a stream index commits through, rooted at its
  * `indexPath`. A root an index wrote before it committed through a
  * manifest (`_gen.e<N>` generation markers, no manifest epoch) is
  * refused by name: the index would restart empty beside its old
  * contents and stop cutting or retrieving what they hold.
  */
private[streaming] object IndexManifest {

  def apply(spark: SparkSession, indexPath: String): TableManifest = {
    val m = new TableManifest(spark, indexPath)
    if (m.tables.isEmpty) {
      val dir = new Path(indexPath)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(dir) || !fs.listStatus(dir).exists(_.getPath.getName.startsWith("_gen.e")),
        s"$indexPath is a stream index in the pre-manifest layout (_gen.e<N> generation markers, " +
          "no manifest epoch): it would restart empty beside the index it holds")
    }
    m
  }

  /** The error for a verb that needs a built index. */
  def unbuilt(indexPath: String): IllegalStateException =
    new IllegalStateException(s"index $indexPath has no committed generation — build it first")
}
