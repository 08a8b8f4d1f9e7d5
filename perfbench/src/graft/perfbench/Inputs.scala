package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Seeded input cache. An entry is a directory named after (workload,
  * seed, size) holding the generated files plus `_manifest.sha256`, the
  * content hash of every other file in it. A run re-hashes the entry and
  * regenerates it when the hash does not match. */
object Inputs {
  val Manifest = "_manifest.sha256"

  /** The entry `key` under `root`, generated by `gen(dir)` when absent or
    * corrupt. `gen` creates `dir` and must be a pure function of the key. */
  def cached(root: File, key: String)(gen: File => Unit): File = {
    val dir = new File(root, key)
    val manifest = new File(dir, Manifest)
    if (manifest.isFile &&
        new String(Files.readAllBytes(manifest.toPath), "UTF-8") == contentHash(dir))
      return dir
    if (dir.exists()) {
      System.err.println(s"[perfbench] input cache entry $key failed its hash check; regenerating")
      deleteTree(dir)
    }
    val tmp = new File(root, s"$key.tmp-${ProcessHandle.current().pid()}")
    deleteTree(tmp)
    gen(tmp)
    require(tmp.isDirectory, s"generator wrote nothing to $tmp")
    Files.write(new File(tmp, Manifest).toPath, contentHash(tmp).getBytes("UTF-8"))
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    dir
  }

  /** sha256 over the sorted relative paths and bytes of every regular file
    * under `dir` except the manifest. */
  def contentHash(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val base = dir.toPath
    val files = Files.walk(base).filter(p => Files.isRegularFile(p)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString != Manifest)
      .sortBy(p => base.relativize(p).toString)
    files.foreach { p =>
      md.update(base.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes `df` as parquet under `dir` with byte-stable file names: the
    * writer's per-job unique file names and checksum/marker files are
    * replaced by `part-NNNNN.parquet`, numbered by partition. */
  def writeParquet(df: DataFrame, dir: File): Unit = {
    df.write.parquet(dir.getPath)
    val PartFile = """part-(\d+)-.*\.parquet""".r
    dir.listFiles().foreach { f =>
      f.getName match {
        case PartFile(n) => require(f.renameTo(new File(dir, s"part-$n.parquet")))
        case _ => require(f.delete(), s"cannot delete $f")
      }
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    if (f.exists()) require(f.delete(), s"cannot delete $f")
  }
}
