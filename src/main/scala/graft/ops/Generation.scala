package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}

/** The one rule that decides whether a source, or a product built from
  * it, is current. Everything that keys on a source generation (a
  * persisted state's fingerprint, a gate lineage, [[StateGc]]'s keep
  * rule, the footer cache, [[CacheOnce]]'s key, the per-path memos)
  * asks here, so a source stored as a directory of part files is judged
  * by the same rule as a single file.
  *
  *  - WHAT A GENERATION IS ([[of]]). A single file's generation is its
  *    own `len:mtime`, the string every persisted state recorded before
  *    this rule existed. A directory's is a fixed-length hex digest of
  *    its data files' (relative path, length, mtime), from one recursive
  *    listing: a part file rewritten in place moves it even when the
  *    directory's own `len:mtime` does not (a POSIX directory's mtime
  *    moves only when an entry is added or removed, and an object store
  *    has none). The digest holds no `|` or `:`, so a recorded key still
  *    reads as the base plus the `:params` / `|options` suffixes
  *    [[StateGc.fpMatches]] splits on. [[ofFiles]] is the digest over a
  *    listing the caller already holds.
  *  - WHICH FILES ARE DATA ([[isData]], [[dataFiles]]): Spark's
  *    hidden-file rule, the one its file index applies, so a marker, a
  *    `_SUCCESS`, a checksum or a sink log is never taken for data.
  *  - WHERE A GENERATION IS RECORDED. A path product records the
  *    generation it was built from as its `_GRAFT_SRC` marker
  *    ([[recorded]], [[record]], [[reset]], [[resetIfStale]]; a catalog
  *    table records it as its `graft.src` property instead). A driver
  *    memo keeps one entry per key with the generation it was computed
  *    at ([[memo]]).
  */
object Generation {

  /** Whether Spark's file index lists an entry named `name`: hidden
    * (`_`/`.`-prefixed, except `_k=v` partition directories), copying
    * and summary files are not data. */
  def isData(name: String): Boolean =
    !(name.startsWith("_") && !name.contains("=")) &&
      !name.startsWith(".") && !name.endsWith("._COPYING_")

  /** The data files under `path` (the file itself when `path` is one):
    * one recursive listing that descends only into data directories and
    * keeps data files, in Spark's order (the full path string; for a
    * flat directory, the file name). */
  def dataFiles(path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(ScaleOps.hadoopConf())
    underRoot(fs, fs.getFileStatus(p)).map(_._2)
  }

  /** (path below the root, status) of every data file under `root`.
    * `listStatus` per directory, not `listFiles`: the latter looks up
    * every file's block locations, which no caller needs. */
  private def underRoot(fs: org.apache.hadoop.fs.FileSystem,
                        root: FileStatus): Seq[(String, FileStatus)] = {
    def walk(dir: Path, rel: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.filter(st => isData(st.getPath.getName)).flatMap { st =>
        val r = rel + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, r + "/") else Seq(r -> st)
      }
    if (root.isFile) Seq(root.getPath.getName -> root)
    else walk(root.getPath, "").sortBy(_._2.getPath.toString)
  }

  /** The generation of the file or directory at `path` (see the object
    * doc). A missing path throws, as a stat of it does. */
  def of(path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(ScaleOps.hadoopConf())
    val st = fs.getFileStatus(p)
    if (st.isFile) s"${st.getLen}:${st.getModificationTime}"
    else digest(underRoot(fs, st).map { case (rel, f) =>
      (rel, f.getLen, f.getModificationTime)
    })
  }

  /** The digest of a listing the caller holds: its files' (full path,
    * length, mtime), order and repeats ignored. A status with a
    * negative length stands for a root that was not listed. */
  def ofFiles(files: Seq[FileStatus]): String =
    digest(files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))

  private def digest(files: Seq[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.distinct.sorted.foreach { case (name, len, mtime) =>
      md.update(s"$name\u0000$len\u0000$mtime\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- the `_GRAFT_SRC` marker of a path product

  private def marker(dir: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val m = new Path(dir, "_GRAFT_SRC")
    (m.getFileSystem(ScaleOps.hadoopConf()), m)
  }

  /** The generation `dir` records, if it records one. */
  def recorded(dir: String): Option[String] = {
    val (fs, m) = marker(dir)
    if (!fs.exists(m)) None else Some(ScaleOps.readUtf8(fs, m))
  }

  /** Records `generation` as the one `dir` was built from. Written after
    * the product, so a crash before it leaves a product the next call
    * finds stale. */
  def record(dir: String, generation: String): Unit = {
    val (fs, m) = marker(dir)
    ScaleOps.writeUtf8(fs, m, generation)
  }

  /** Empties `dir` (creating it) and records `generation`: a fresh
    * product whatever the directory held. */
  def reset(dir: String, generation: String): Unit = {
    val (fs, m) = marker(dir)
    val p = m.getParent
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    ScaleOps.writeUtf8(fs, m, generation)
  }

  /** [[reset]] unless `dir` already records `generation`. True when it
    * reset (a fresh product). */
  def resetIfStale(dir: String, generation: String): Boolean = {
    val stale = !recorded(dir).contains(generation)
    if (stale) reset(dir, generation)
    stale
  }

  /** Whether `st` was last modified before `millis` (epoch): the age
    * test of a crash leftover, which has no source to key on. */
  def modifiedBefore(st: FileStatus, millis: Long): Boolean =
    st.getModificationTime < millis

  /** `map`'s value for `key` if it was computed at `generation`, else
    * `build`'s, stored in place of the superseded one: one entry per
    * key, so a session never keeps a dead generation. */
  def memo[K, V](map: java.util.concurrent.ConcurrentHashMap[K, (String, V)],
                 key: K, generation: String)(build: => V): V = {
    val hit = map.get(key)
    if (hit != null && hit._1 == generation) hit._2
    else { val v = build; map.put(key, (generation, v)); v }
  }
}
