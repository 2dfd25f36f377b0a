package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Virtual filesystem facade over the Hadoop FileSystem API — the
  * Spark-native analogue of the reference's VFS abstraction
  * (reference: tiledb/vfs.py:16-552). `file://`, `hdfs://`, `s3a://`,
  * `gs://` etc. all come free from Hadoop; no custom backends needed.
  */
class VFS(conf: Configuration) {
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(uri: String): Boolean = { val p = new Path(uri); fs(p).exists(p) }
  def isDir(uri: String): Boolean = { val p = new Path(uri); val f = fs(p); f.exists(p) && f.getFileStatus(p).isDirectory }
  def mkdirs(uri: String): Unit = { val p = new Path(uri); fs(p).mkdirs(p) }
  def delete(uri: String, recursive: Boolean = true): Boolean = { val p = new Path(uri); fs(p).delete(p, recursive) }
  def rename(from: String, to: String): Boolean = { val p = new Path(from); fs(p).rename(p, new Path(to)) }

  def ls(uri: String): Seq[String] = {
    val p = new Path(uri)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.toString).toSeq.sorted
  }

  def writeString(uri: String, content: String): Unit = {
    val p = new Path(uri)
    val out = fs(p).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readString(uri: String): String = {
    val p = new Path(uri)
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  def writeBytes(uri: String, content: Array[Byte]): Unit = {
    val p = new Path(uri)
    val out = fs(p).create(p, true)
    try out.write(content) finally out.close()
  }

  def readBytes(uri: String): Array[Byte] = {
    val p = new Path(uri)
    val in = fs(p).open(p)
    try in.readAllBytes() finally in.close()
  }

  def fileSize(uri: String): Long = { val p = new Path(uri); fs(p).getFileStatus(p).getLen }

  /** (length, mtime) — a cheap change fingerprint for memoizing parsed
    * sidecars keyed by path (legacy unversioned paths get rewritten in
    * place on rebuilds, so path alone is not a cache key). */
  def fileStamp(uri: String): (Long, Long) = {
    val p = new Path(uri); val st = fs(p).getFileStatus(p)
    (st.getLen, st.getModificationTime)
  }

  /** All FILE paths under `uri`, recursively (partitioned layouts nest
    * data under `col=value/` dirs), sorted. Missing dir = empty.
    *
    * Walks with one `listStatus` per dir. `listFiles(p, true)` returns
    * the same files but builds a `LocatedFileStatus` per file, which on
    * the local FS without native Hadoop loads the file's permissions by
    * forking `ls -ld`: a few ms per listed file, the cost Spark's own
    * listing also avoids.
    *
    * Retries the WHOLE walk (bounded) when an entry vanishes mid-walk —
    * a writer's `_temporary` dir being renamed away between a parent's
    * listing and its own. The single-writer GUARD re-list
    * ([[VersionedDir.commitGuarded]]) hits exactly this when a
    * contract-violating concurrent append is committing: the retry
    * walks the post-rename state, sees the appended files, and lets the
    * guard abort LOUDLY instead of crashing mid-listing (observed in
    * the concurrency rehearsal's deliberate append-during-major).
    * Persistent failures still throw. */
  def lsFilesRecursive(uri: String): Seq[String] = {
    val p = new Path(uri)
    val f = fs(p)
    def walk(): Seq[String] = {
      val out = Seq.newBuilder[String]
      def visit(dir: Path): Unit = f.listStatus(dir).foreach { st =>
        if (st.isDirectory) visit(st.getPath) else out += st.getPath.toString
      }
      visit(p)
      out.result().sorted
    }
    if (!f.exists(p)) Nil
    else {
      var tries = 0
      while (true) {
        tries += 1
        try return walk()
        catch {
          // a dir listed by its parent and gone by its own listStatus
          // throws FileNotFoundException (an IOException); a file
          // system may also wrap it in a RuntimeException
          case e @ (_: java.io.FileNotFoundException | _: RuntimeException)
              if tries < 4 &&
              (e.isInstanceOf[java.io.FileNotFoundException] ||
                Option(e.getCause).exists(
                  _.isInstanceOf[java.io.FileNotFoundException])) =>
            if (!f.exists(p)) return Nil // the whole tree vanished
        }
      }
      Nil // unreachable
    }
  }

  /** Recursive byte size of a directory tree (`du`). */
  def du(uri: String): Long = {
    val p = new Path(uri); fs(p).getContentSummary(p).getLength
  }
}

object VFS {
  def apply(spark: org.apache.spark.sql.SparkSession): VFS =
    new VFS(spark.sparkContext.hadoopConfiguration)
  lazy val local: VFS = new VFS(new Configuration())
}
