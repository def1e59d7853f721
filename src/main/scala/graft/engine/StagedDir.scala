package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration

/** A payload directory landed all-or-nothing — the staged commit of the
  * DSv2 file writers ([[PgCopySource]], `graft-avro`): tasks write into
  * a hidden sibling staging directory, and only the driver's commit
  * moves the payload into place. `overwrite` swaps the staged directory
  * in; append moves exactly the committed files in. A failed write
  * deletes only its staging directory, so the previous landing stays
  * intact. Driver-side only.
  */
private[graft] final class StagedDir(path: String, writeId: String,
                                     tag: String,
                                     conf: SerializableConfiguration) {
  val fs: FileSystem = new Path(path).getFileSystem(conf.value)
  val dir: Path = fs.makeQualified(new Path(path.stripSuffix("/")))
  // hidden sibling: Spark's file readers and any `part-*` listing of
  // the payload directory skip it
  val staging = new Path(dir.getParent, s".${dir.getName}.$tag-$writeId")

  def create(): Unit = fs.mkdirs(staging)

  /** Moves the payload into place; `files` are the committed names
    * inside the staging directory.
    */
  def land(overwrite: Boolean, files: Seq[String]): Unit =
    if (overwrite) {
      fs.delete(dir, true)
      rename(staging, dir)
    } else {
      fs.mkdirs(dir)
      files.foreach(f => rename(new Path(staging, f), new Path(dir, f)))
      fs.delete(staging, true)
    }

  def abort(): Unit = fs.delete(staging, true)

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"$tag: commit rename $from -> $to failed")
}
