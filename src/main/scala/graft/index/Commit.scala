package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8

/** The one commit policy of every index rewrite (secondary, IVF, IVF-ADC,
  * float and code graphs, flat coded tables). The reference treats a
  * segment's index as an immutable file the host swaps in whole (KNN
  * builder train/add/save, knn/knn.cpp:638-786); two crash-safe Spark
  * shapes of that swap live here, each with one body:
  *
  *  - [[commitGeneration]] (object-store safe, never renames data): write
  *    a NEW immutable generation dir `<path>__g<N>`, commit it with ONE
  *    manifest object `<path>_manifest/v<N>` naming it — a single
  *    small-object PUT, the only atomicity an object store guarantees (the
  *    Delta/Iceberg commit shape) — keep the previous generation one
  *    cycle, sweep stale dirs by name;
  *  - [[swapInPlace]] (rename-to-backup + rename-in, for stores where
  *    rename is atomic): the data exists at SOME path at every instant.
  *
  * [[resolve]] is the read side of both; [[requireUnmanaged]] keeps
  * base-path rebuilds and the rename swap off a manifest-managed index. */
object Commit {

  /** Marker written into a RETAINED superseded generation so
    * [[resolve]]'s rename-scheme fallbacks never serve it as live data. */
  private[graft] val SupersededMarker = "_GRAFT_SUPERSEDED"

  private def manifestDir(indexPath: String): String = indexPath + "_manifest"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve the CURRENT data directory of an index — the single read-side
    * entry point every lookup, search, append and checker goes through.
    * Resolution order:
    *
    *  1. manifest log (`<path>_manifest/v<N>`, highest N whose content
    *     names an existing generation dir — [[commitGeneration]]'s
    *     protocol; a partially-written newest version is skipped, falling
    *     back to the previous one);
    *  2. `<path>` itself (plain builds and [[swapInPlace]]);
    *  3. `<path>_old` when `<path>` is missing — the crash window between
    *     [[swapInPlace]]'s two renames (ADVICE r8: self-heal previously
    *     lived only in compact(), so reads failed until another compact
    *     ran).
    *
    * Cost: one existence probe on the manifest dir per query build —
    * metadata-only, no data IO. [[graft.engine.Graft.cachedRead]] reads
    * through this resolution; a raw `spark.read.parquet(path)` still
    * reads the base dir, which a committed generation has superseded
    * (and a later commit sweeps). */
  def resolve(spark: SparkSession, indexPath: String): String = {
    val dst = new Path(indexPath)
    val fs = fsOf(spark, dst)
    val mdir = new Path(manifestDir(indexPath))
    if (fs.exists(mdir)) {
      manifestVersions(fs, indexPath).foreach { case (_, vfile) =>
        val content = readSmallFile(fs, vfile)
        if (content.nonEmpty) {
          val gen = new Path(dst.getParent, content)
          if (fs.exists(gen)) return gen.toString
        }
      }
    }
    // The fallbacks below serve the RENAME scheme's crash window only. A
    // dir carrying the SUPERSEDED marker is a retained previous
    // generation: reachable by in-flight readers that already resolved
    // it, but never a valid fallback — if the manifest dir is lost,
    // serving it would be silent stale data (review r10); fail loudly.
    def superseded(p: Path): Boolean =
      try fs.exists(new Path(p, SupersededMarker))
      catch { case _: java.io.IOException => false }
    val old = new Path(indexPath + "_old")
    if (!fs.exists(dst) && fs.exists(old) && !superseded(old))
      return indexPath + "_old"
    if (fs.exists(dst) && superseded(dst))
      throw new IllegalStateException(
        s"$indexPath is a superseded generation of a manifest-managed " +
          s"index but no valid manifest version exists under " +
          s"${manifestDir(indexPath)} — the manifest dir was lost; " +
          "restore it or rebuild the index")
    indexPath
  }

  /** Fail-fast guard for in-place rewrites at the base path: once an index
    * is manifest-managed, its base dir is dead — [[resolve]] serves the
    * committed generation, so a fresh build (or a rename swap) at the base
    * path would be silently INVISIBLE to every reader (worse than an
    * error: queries keep answering from the old data). `remedy` names the
    * family's compaction. */
  private[graft] def requireUnmanaged(spark: SparkSession, indexPath: String,
                                      remedy: String): Unit =
    require(manifestVersions(fsOf(spark, new Path(indexPath)), indexPath).isEmpty,
      s"$indexPath is manifest-managed (${manifestDir(indexPath)} holds " +
        "committed generations): a rewrite at the base path would be " +
        s"invisible to readers — use $remedy, or build under a new path")

  /** Manifest versions, newest first. */
  private[graft] def manifestVersions(fs: FileSystem, indexPath: String)
      : Seq[(Long, Path)] = {
    val mdir = new Path(manifestDir(indexPath))
    if (!fs.exists(mdir)) Nil
    else fs.listStatus(mdir).toSeq.map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v")) n.drop(1).toLongOption.map(_ -> p) else None
      }
      .sortBy(-_._1)
  }

  private def readSmallFile(fs: FileSystem, p: Path): String =
    try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8).trim
      finally in.close()
    } catch { case _: java.io.IOException => "" }

  private[graft] def writeManifest(fs: FileSystem, indexPath: String,
                                   version: Long, genDirName: String): Unit = {
    val vfile = new Path(manifestDir(indexPath), s"v$version")
    val out = fs.create(vfile, false) // no overwrite: versions are immutable
    try out.write((genDirName + "\n").getBytes(UTF_8))
    finally out.close()
  }

  /** `<path>__g<N>`: the dir of generation N of the index at `path`. */
  private val Generation = "(.+)__g(\\d+)".r

  /** The index path a generation dir belongs to — the inverse of
    * [[commitGeneration]]'s `<path>__g<N>` naming; any other path maps to
    * itself. A table read through its live generation is keyed (routing
    * registries) under its own path again. */
  private[graft] def indexPathOf(dir: String): String = dir match {
    case Generation(path, _) => path
    case _ => dir
  }

  /** Commit one rewrite of the index at `indexPath` as a new generation.
    * `write(live, next)` reads the live data dir ([[resolve]]) and writes
    * the complete new generation into the dir `next`; its result is
    * returned. Every crash interleaving leaves a readable index:
    *
    *  - crash while writing the generation: manifest untouched, readers
    *    stay on the old data; the half-written dir is a crashed attempt
    *    that the next commit deletes first;
    *  - crash while writing `v<N>` (partial/empty object): [[resolve]]
    *    skips invalid versions and falls back to the previous one;
    *  - crash after the commit, before the sweep: both generations exist,
    *    readers already see the new one; the next commit sweeps by name.
    *
    * The sweep deletes every stale dir by NAME — other `__g<N>`
    * generations, the base dir and its `sidecars` (`<path>_<name>`), and
    * the rename scheme's `_old`/`_compacting` leftovers — so orphans of a
    * crash between a past commit and its sweep go too (review r9). The
    * generation live until this commit is RETAINED for one cycle (ADVICE
    * r9: a reader that resolved it just before the commit finishes on a
    * consistent snapshot); a retained legacy base or `_old` dir is also a
    * [[resolve]] fallback target, so it gets the superseded marker and a
    * later manifest-dir loss fails loudly instead of serving it. Retained
    * `__g` dirs are reachable only through manifest versions, which a lost
    * manifest cannot name — no marker needed there. */
  private[graft] def commitGeneration[A](spark: SparkSession, indexPath: String,
                                         sidecars: Seq[String] = Nil)
                                        (write: (String, String) => A): A = {
    val base = new Path(indexPath)
    val fs = fsOf(spark, base)
    val live = resolve(spark, indexPath)
    val version = manifestVersions(fs, indexPath).headOption.fold(0L)(_._1) + 1
    val next = new Path(s"${indexPath}__g$version")
    fs.delete(next, true) // a crashed prior attempt at this version
    val out = write(live, next.toString)
    writeManifest(fs, indexPath, version, next.getName) // COMMIT
    val baseName = base.getName
    val legacy = (baseName +: sidecars.map(s => s"${baseName}_$s")).toSet
    val retained =
      if (live == indexPath) legacy else Set(new Path(live).getName)
    if (fs.exists(base.getParent)) {
      fs.listStatus(base.getParent).foreach { st =>
        val n = st.getPath.getName
        val stale = !retained(n) && (legacy(n) ||
          n == baseName + "_old" || n == baseName + "_compacting" ||
          (n match {
            case Generation(`baseName`, v) => v.toLongOption.exists(_ != version)
            case _ => false
          }))
        if (stale) fs.delete(st.getPath, true)
      }
    }
    if (live == indexPath || live == indexPath + "_old") {
      val mk = fs.create(new Path(live, SupersededMarker), true)
      try mk.write("superseded by manifest commit\n".getBytes(UTF_8))
      finally mk.close()
    }
    out
  }

  /** Rewrite the dir at `path` in place: `write(tmp)` reads the live data
    * at `path` and writes the complete replacement into `tmp`, then a
    * rename-to-backup + rename-in swaps it in. The swap is two renames,
    * not one atomic op, but the data exists at SOME path at every
    * instant: a crash between the renames leaves the old data intact at
    * `<path>_old` (which [[resolve]] serves, and the next swap restores
    * first), never destroyed data; a failed rename-in restores the backup.
    * The backup is removed only after the new data is in place. */
  private[graft] def swapInPlace[A](spark: SparkSession, path: String)
                                   (write: String => A): A = {
    val dst = new Path(path)
    val tmp = new Path(path + "_compacting")
    val bak = new Path(path + "_old")
    val fs = fsOf(spark, dst)
    // self-heal from a crash between the two renames of a prior swap
    if (!fs.exists(dst) && fs.exists(bak) && !fs.rename(bak, dst))
      throw new java.io.IOException(
        s"data missing at $path and backup restore from $bak failed")
    val out = write(tmp.toString)
    fs.delete(bak, true) // leftover backup from an interrupted prior swap
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"could not back up $path for swap")
    if (!fs.rename(tmp, dst)) {
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(
          s"swap of $tmp into $path failed AND the restore failed: " +
            s"the data is at $bak — rename it back manually")
      throw new java.io.IOException(s"could not swap $tmp into $path")
    }
    fs.delete(bak, true)
    out
  }
}
