package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Shared filesystem primitives for the file-backed connectors — in
  * particular the atomic-publish swap with rollback, so Csv/JsonDoc get
  * the same crash-safety contract as Parquet: a failure mid-publish never
  * loses the existing table (the reference's tmp-table + `RENAME` pattern,
  * taskrabbit/forklift `patterns/mysql_patterns.rb:35-39`, at the
  * filesystem layer).
  */
object FileTableOps {

  /** Atomically replace `dst` with `tmp`: move the existing `dst` to a
    * trash path, move `tmp` into place, delete the trash — rolling the
    * original back if the final move fails. Readers observe either the
    * old or the new table, never a missing or partial one. */
  def replace(dir: String, tmp: Path, dst: Path): Unit = {
    val trash = Paths.get(dir, s".tmp_del_${System.nanoTime()}")
    val existed = Files.exists(dst)
    if (existed) Files.move(dst, trash, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable =>
      if (existed) Files.move(trash, dst, StandardCopyOption.ATOMIC_MOVE) // rollback
      throw e
    }
    if (existed) deleteRecursively(trash)
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children = try {
        val b = Seq.newBuilder[Path]; val it = s.iterator()
        while (it.hasNext) b += it.next(); b.result()
      } finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  /** Spark's file-index rule for names that are not table data: a file
    * or directory whose name starts with `.`, ends with `._COPYING_`, or
    * starts with `_` without being a `k=v` partition directory. Spark's
    * own rule additionally admits the `_metadata` / `_common_metadata`
    * parquet summaries; those are footers, not data, so they stay hidden
    * here. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The data files of the table at `root` (a file or a directory): a
    * recursive driver-side listing that prunes every [[hidden]] name
    * below the root — the set of files `spark.read` would scan — in
    * ascending full-path order, the order Spark's schema inference sorts
    * leaf files into before it reads the first footer. Each directory's
    * entries are sorted by name, with a `/` appended to directory names:
    * that key orders children exactly as the full paths beneath them
    * compare, so a depth-first walk yields the global path order. Lazy:
    * `hasNext` stops at the first data file. Empty when `root` does not
    * exist. */
  def dataFiles(root: String, conf: org.apache.hadoop.conf.Configuration)
      : Iterator[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(conf)
    def walk(s: org.apache.hadoop.fs.FileStatus): Iterator[org.apache.hadoop.fs.FileStatus] =
      if (s.isFile) Iterator.single(s)
      else fs.listStatus(s.getPath).filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
        .iterator.flatMap(walk)
    if (!fs.exists(p)) Iterator.empty else walk(fs.getFileStatus(p))
  }

  /** Table names in `dir` with the given extension, skipping tmp files. */
  def list(dir: String, ext: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try {
      val b = Seq.newBuilder[String]; val it = s.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.endsWith(ext) && !n.startsWith(".tmp_")) b += n.stripSuffix(ext)
      }
      b.result().sorted
    } finally s.close()
  }
}
