package graft.sources

/** Standing /tmp artifacts: indexes and codebooks built once per key
  * under the JVM temp dir and read by every later call — the next bench
  * pass, the next micro-batch of a standing ingest. A key folds in the
  * build parameters and the input data's mtime, so a regenerated
  * testdata set can never be served a stale artifact.
  */
object Artifacts {

  /** Max mtime under a testdata table dir — folded into standing-
    * artifact keys so a regenerated testdata set can never be shadowed
    * by a stale artifact.
    */
  def dataMtime(dir: String, table: String): Long = {
    val d = new java.io.File(dir, table)
    Option(d.listFiles())
      .map(_.map(_.lastModified()).foldLeft(d.lastModified())(math.max))
      .getOrElse(d.lastModified())
  }

  /** Atomically publish a built `tmp` dir as the standing artifact
    * `art`. A failed rename is a LOST BUILD RACE only when `art` is
    * already complete; any other cause (a stale half-written `art`
    * from a killed build, an IO error) must not be silently swallowed
    * (ADVICE r19) — a stale blocker is removed and the rename retried
    * once, and leftover tmp dirs are always cleaned up. Callers that
    * go on to READ `art` re-check its markers and fail loudly.
    */
  private def finishRename(tmp: java.io.File, art: java.io.File,
      artComplete: => Boolean): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    if (!tmp.renameTo(art)) {
      if (!artComplete) { rm(art); tmp.renameTo(art); () }
      if (tmp.exists()) rm(tmp)
    }
  }

  /** Build-once /tmp artifact behind every standing index and codebook: the
    * first call per key builds under a pid-suffixed temp dir and
    * atomically renames into place (write-then-rename, so a concurrent
    * JVM never reads a half-written artifact; if the rename loses the
    * race the duplicate build is discarded — determinism makes the
    * winner identical); later calls return the existing path. Throws
    * a descriptive error if the artifact is still incomplete after the
    * publish (an IO failure, NOT a lost race — the subsequent parquet
    * read would otherwise die on an opaque path error).
    */
  def standingArtifact(prefix: String, keyParts: Seq[Any],
      successMarkers: Seq[String])(build: String => Unit): java.io.File = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(keyParts.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val art = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"${prefix}_$digest")
    def complete = successMarkers.forall(
      m => new java.io.File(art, m).isFile)
    if (!complete) {
      val tmp = new java.io.File(art.getParentFile,
        art.getName + ".tmp" + ProcessHandle.current().pid())
      build(tmp.toString)
      finishRename(tmp, art, complete)
      if (!complete) throw new IllegalStateException(
        s"standingArtifact: $art is missing ${successMarkers.mkString(",")} " +
          "after build+rename — not a lost race; check disk/permissions " +
          "under java.io.tmpdir")
    }
    art
  }
}
