package graft.rel

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under the `crashrename://` scheme, with one
  * fault: a rename whose destination is [[CrashRenameFs.killAt]] throws
  * instead of moving anything — the process dying at exactly that step
  * of a commit protocol. Crash specs point a store at
  * `crashrename://<local path>` and read it back through the plain
  * local path. */
class CrashRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashrename:///")
  override def getScheme: String = "crashrename"
  override def rename(src: Path, dst: Path): Boolean = {
    if (CrashRenameFs.killAt.contains(
        Path.getPathWithoutSchemeAndAuthority(dst).toString))
      throw new java.io.IOException(s"injected crash renaming $src to $dst")
    super.rename(src, dst)
  }
}

object CrashRenameFs {
  /** The local destination path whose rename dies; None = no fault. */
  @volatile var killAt: Option[String] = None

  /** Register the scheme with the session's Hadoop configuration. */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set("fs.crashrename.impl", classOf[CrashRenameFs].getName)
}
