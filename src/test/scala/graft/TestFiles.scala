package graft

/** File and timestamp helpers shared by the suites. */
object TestFiles {

  /** Delete `f` and everything under it. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** `body` over a fresh temporary directory named `prefix…`, deleted with
    * everything under it afterwards. */
  def withTempDir[T](prefix: String)(body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir) finally rm(dir)
  }

  /** The timestamp `yyyy-mm-dd hh:mm:ss[.f…]`. */
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
