package graft

/** Local-filesystem helpers for the file-backed stores, replay
  * harnesses, sink exercisers and specs. One definition each — the
  * tree-delete and the directory listing previously existed as inline
  * copies, and a divergent copy (e.g. one that follows symlinks or leaves
  * the listing stream open) is exactly the kind of bug that only shows up
  * as a full /tmp or an exhausted file-handle table. */
object Fs {

  /** Delete `p` recursively (no-op if absent). NOFOLLOW_LINKS is
    * load-bearing: plain `Files.isDirectory` FOLLOWS a symlink to a
    * directory, which turns "delete my scratch dir" into "recurse into
    * whatever the scratch linked to and delete THAT" — a symlink must be
    * deleted as the link itself, never traversed. */
  def rmTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      list(p).foreach(rmTree)
    java.nio.file.Files.deleteIfExists(p)
  }

  /** The direct children of directory `dir`, in listing order. The
    * listing stream holds a directory handle, so it is closed here, in
    * `finally`, never left to the garbage collector. */
  def list(dir: java.nio.file.Path): Vector[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(dir)
    try {
      val b = Vector.newBuilder[java.nio.file.Path]
      val it = s.iterator()
      while (it.hasNext) b += it.next()
      b.result()
    } finally s.close()
  }

  /** The names of the subdirectories of `dir` that start with `prefix`
    * (a store's `gen=`/`cell=`/`bkt=` partitions), sorted. */
  def subdirs(dir: java.nio.file.Path, prefix: String = ""): Seq[String] =
    list(dir).filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith(prefix)).sorted

  /** The JVM-tmpdir directory of a file-backed store drill's store, keyed
    * by drill `kind` and input `dir` so re-runs overwrite their own store
    * only. */
  def storeDir(kind: String, dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_stores", s"graft_${kind}_${dirKey(dir)}")

  /** An input directory as a file-name-safe key, so a persisted model,
    * index or store can never serve another SF's corpus. */
  def dirKey(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** The parquet files directly under `dir` (none if `dir` is absent). */
  def parquetFiles(dir: java.nio.file.Path): Vector[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(dir)) Vector.empty
    else list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
}
