package graft

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** THE SNAPSHOT STORE — one crash-safe commit protocol for every
  * manifest-versioned directory in the engine: the persisted ANN index
  * ([[graft.ops.Similarity]] `ivf*`), the versioned destination tables
  * ([[graft.etl.VersionedTable]]) and the multi-table root pointer
  * ([[graft.etl.TableGroup]]). Each store passes its on-disk names in as
  * a [[Snapshots.Layout]]; the rules below never depend on which store
  * is asking, only on the entry or path at hand.
  *
  *   1. LIVE POINTER + HISTORY. A commit writes `<manifest>.vN` FIRST,
  *      then flips the live `<manifest>`, both temp-then-rename, so no
  *      reader ever sees a torn list. Body: the version on line one, then
  *      `#` header lines (passed through verbatim), then the relative data
  *      files, one per line. Readers take the live pointer; when it is
  *      missing (a reader inside the flip's delete-rename window, or a
  *      writer that crashed there) the HIGHEST `.vN` is byte-identical to
  *      what the flip would have published and serves instead. A `.vN`
  *      above the live version is a PHANTOM (a commit that died before
  *      its flip): never served, pruned on sight.
  *   2. PENDING-DELETE CALENDAR (`<pending>`, one entry per line). A
  *      commit never deletes the files it replaces; it stamps them
  *      `<dueAtVersion>:<relPath>` (due = the retiring version + the
  *      retention in force then) BEFORE its flip, so readers pinned on any
  *      retained version keep every file however many commits land. An
  *      entry covers itself and every file under it: a file, or a whole
  *      directory such as an index cell `c_cell=N` (the pre-manifest index
  *      format's bare id `N` means the same; unstamped entries are always
  *      due). [[Store.replay]] deletes due entries' unprotected files; an
  *      entry that is itself a protected file is held, any other due entry
  *      retires — a directory entry too when a resurrected cell keeps
  *      protected files under it — and emptied parent directories fold
  *      away.
  *   3. AVAILABILITY PRUNE. A `.vN` stays exactly as long as every file it
  *      references is live, or covered (exactly or by a directory prefix)
  *      by a stamp not yet due, or — covered by none, the crashed-writer
  *      case — still on disk (one memoized existence probe per file, so
  *      the prune is O(referenced files), never a directory walk); and
  *      while it is inside the retention window or extended by a running
  *      stamp. The stamps are frozen at retirement, so a later change of
  *      the retention conf neither resurrects a version whose files are
  *      gone (time travel fails fast, never mid-scan) nor breaks a window
  *      already promised. Runs after every commit and every replay.
  *   4. PROTECTED FILES AND THE ORPHAN SWEEP. The live list plus every
  *      `.vN` list is what some reader may still open; replay never
  *      deletes it. [[Store.sweep]] deletes data files outside that set
  *      and outside the calendar — crash garbage from a writer that died
  *      between writing files and committing — plus any `.staging-*`
  *      directory left by a dead commit attempt.
  *   5. WRITER LOCK, two layers: an in-JVM monitor per lock file
  *      (writers in one JVM serialize without touching storage), then a
  *      create-no-overwrite `<lock>` file holding `<owner>:<uuid> <ms>`
  *      (atomic create on HDFS, conditional PUT on object stores). Guards
  *      kept from the index's lock: a lease-expired lock is stolen by
  *      RENAME to `<lock>.steal.<uuid>`, the content is verified to be the
  *      very lock judged stale and a wrong steal is renamed back; steal
  *      litter older than the lease is swept; release deletes only while
  *      the lease is live and the token is ours. Guards kept from the
  *      table's lock: after `create` the holder reads back its own token
  *      (a contender stealing from the previous holder may have taken the
  *      fresh lock), and the stale lock's mtime is re-checked right before
  *      the steal. Residual gap: a holder that stalls past its lease
  *      between its token check and its delete can still remove a
  *      stealer's lock; closing it needs a store-side conditional delete.
  *
  * Readers never lock: a manifest load pins one whole version.
  */
object Snapshots {

  /** On-disk names of one store: the live pointer (history copies are
    * `<manifest>.vN`), the pending-delete calendar and the writer lock.
    */
  final case class Layout(manifest: String, pending: String, lock: String)

  /** One committed version: `lines` are everything after the version line
    * (`#` headers and file paths, as written).
    */
  final case class Manifest(version: Long, lines: List[String]) {
    def files: List[String] = lines.filterNot(_.startsWith("#"))
  }

  def apply(spark: SparkSession, dir: String, layout: Layout): Store =
    new Store(spark, dir, layout)

  private val Stamp = "^([0-9]+):(.+)$".r

  /** A calendar entry as (due version — None for a legacy, always-due
    * entry — and the relative path it covers).
    */
  private def parseEntry(e: String): (Option[Long], String) = {
    val (due, raw) = e match {
      case Stamp(d, r) => (Some(d.toLong), r)
      case _ => (None, e)
    }
    (due, if (raw.forall(c => c.isDigit || c == '-')) s"c_cell=$raw" else raw)
  }

  /** `rel` and each of its ancestor directories. */
  private def covering(rel: String): Seq[String] =
    rel +: rel.indices.filter(rel(_) == '/').map(rel.substring(0, _))

  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  final class Store private[Snapshots] (spark: SparkSession, dir: String,
                                        layout: Layout) {
    val root = new Path(dir)
    val fs: FileSystem =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def path(rel: String) = new Path(root, rel)

    private def readLines(p: Path): List[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }

    private def readText(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }

    private def parse(lines: List[String]): Manifest = lines match {
      case v :: rest => Manifest(v.toLong, rest)
      case Nil => Manifest(0L, Nil)
    }

    /** A sidecar file's non-blank lines, None when absent. */
    def read(name: String): Option[List[String]] = {
      val p = path(name)
      if (fs.exists(p)) Some(readLines(p)) else None
    }

    /** Write a sidecar file temp-then-rename. */
    def write(name: String, body: String): Unit = {
      val dst = path(name)
      val tmp = path(name + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new IOException(s"rename $tmp -> $dst failed")
    }

    /** Relative paths of every data file (no `_`/`.`-prefixed segment). */
    def dataFiles: Seq[String] = filesUnder(root)

    private def filesUnder(base: Path): Seq[String] = {
      if (!fs.exists(base)) return Seq.empty
      val baseStr = fs.makeQualified(base).toString
      def walk(p: Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Seq.empty
          else if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString.stripPrefix(baseStr).stripPrefix("/"))
        }
      walk(base).sorted
    }

    /** The `.vN` history copies on disk (phantoms included). */
    def history: Seq[(Long, Path)] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (!n.startsWith(layout.manifest + ".v")) None
        else scala.util.Try(n.stripPrefix(layout.manifest + ".v").toLong)
          .toOption.map(_ -> st.getPath)
      }

    /** The live manifest (pointer, else the highest `.vN`); None on a
      * directory that never committed.
      */
    def live: Option[Manifest] = {
      val p = path(layout.manifest)
      if (fs.exists(p))
        try return Some(parse(readLines(p)))
        catch { case _: FileNotFoundException => () } // lost the race
      history.sortBy(-_._1).headOption.map(h => parse(readLines(h._2)))
    }

    /** Retained versions, ascending (phantoms excluded). */
    def versions: Seq[Long] = {
      val cur = live.map(_.version)
      history.map(_._1).filter(n => cur.forall(n <= _)).sorted
    }

    /** Version `version` as committed; a pruned, missing or phantom
      * version fails fast ("not retained", then `hint`).
      */
    def snapshot(version: Long, hint: String = ""): Manifest = {
      val p = path(layout.manifest + ".v" + version)
      if (!fs.exists(p) || !live.exists(version <= _.version))
        throw new IllegalArgumentException(
          s"version $version not retained under $dir " +
            s"(retained: ${versions.mkString(", ")})$hint")
      parse(readLines(p))
    }

    /** Write version `version` with `lines` after the version line:
      * history copy first, then the live flip. No prune.
      */
    def publish(version: Long, lines: Seq[String]): Unit = {
      val body = (version.toString +: lines).mkString("\n")
      write(layout.manifest + ".v" + version, body)
      write(layout.manifest, body)
    }

    /** Commit `version` (`headers` then the sorted `files`) and prune
      * history under `retain`.
      */
    def commit(version: Long, files: Seq[String],
               headers: Seq[String] = Nil, retain: Long): Unit = {
      publish(version, headers ++ files.sorted)
      prune(retain)
    }

    def pending: Seq[String] = read(layout.pending).getOrElse(Nil)

    private def writePending(entries: Seq[String]): Unit =
      if (entries.isEmpty) fs.delete(path(layout.pending), false)
      else write(layout.pending, entries.mkString("\n"))

    /** Stamp `paths` into the calendar, due at version `dueAt`. Call
      * BEFORE the commit that retires them: its prune must see them as
      * still pending, and a crash in between leaves entries whose files
      * the old live manifest still protects.
      */
    def retire(paths: Seq[String], dueAt: Long): Unit =
      if (paths.nonEmpty) writePending(pending ++ paths.map(p => s"$dueAt:$p"))

    /** Everything some reader may still open: live + every `.vN`. */
    def protectedFiles: Set[String] =
      (live.toSeq.flatMap(_.files) ++
        history.flatMap(h => parse(readLines(h._2)).files)).toSet

    /** Replay the due calendar entries (header, step 2). Returns the
      * entries it retired, verbatim.
      */
    def replay(retain: Long): Seq[String] = {
      if (!fs.exists(path(layout.pending))) return Seq.empty
      val latest = live.fold(0L)(_.version)
      val (due, notDue) =
        pending.partition(e => parseEntry(e)._1.forall(latest >= _))
      val shield = protectedFiles
      val (held, retired) = due.partition(e => shield(parseEntry(e)._2))
      retired.foreach { e =>
        val rel = parseEntry(e)._2
        val under =
          try {
            if (fs.getFileStatus(path(rel)).isFile) Seq(rel)
            else filesUnder(path(rel)).map(rel + "/" + _)
          } catch { case _: FileNotFoundException => Seq.empty }
        if (under.exists(shield))
          under.filterNot(shield).foreach(f => fs.delete(path(f), false))
        else fs.delete(path(rel), true)
        foldEmptyParents(rel)
      }
      writePending(notDue ++ held)
      if (retired.nonEmpty) prune(retain)
      retired
    }

    /** Delete the directories above `rel` that are now empty, up to the
      * root, so the root listing stays O(live content).
      */
    def foldEmptyParents(rel: String): Unit = {
      val qRoot = fs.makeQualified(root)
      var parent = path(rel).getParent
      var more = true
      while (more && parent != null && fs.makeQualified(parent) != qRoot) {
        more =
          try fs.exists(parent) && fs.listStatus(parent).isEmpty &&
            fs.delete(parent, false)
          catch { case _: IOException => false }
        parent = parent.getParent
      }
    }

    /** The availability prune (header, step 3). */
    def prune(retain: Long): Unit = live.foreach { cur =>
      val stamps: Map[String, Seq[Long]] = pending.map(parseEntry)
        .collect { case (Some(d), rel) => rel -> d }
        .groupBy(_._1).map { case (rel, ds) => rel -> ds.map(_._2) }
      def dues(rel: String): Seq[Long] =
        covering(rel).flatMap(stamps.getOrElse(_, Nil))
      val liveSet = cur.files.toSet
      val onDisk = scala.collection.mutable.HashMap[String, Boolean]()
      def available(rel: String): Boolean =
        liveSet(rel) || {
          val d = dues(rel)
          if (d.nonEmpty) d.exists(_ > cur.version)
          else onDisk.getOrElseUpdate(rel, fs.exists(path(rel)))
        }
      // the window bound matters on append-only stores: appends retire
      // nothing, so availability alone would keep every version forever
      val keepFrom = cur.version - retain
      history.foreach { case (n, p) =>
        if (n > cur.version) fs.delete(p, false) // phantom
        else if (n < cur.version) {
          val refs = parse(readLines(p)).files
          val extended = refs.exists(r => dues(r).exists(_ > cur.version))
          if (!refs.forall(available) || (n < keepFrom && !extended))
            fs.delete(p, false)
        }
      }
    }

    /** The orphan sweep (header, step 4). */
    def sweep(): Unit = if (live.isDefined) {
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".staging-"))
          fs.delete(st.getPath, true)
      }
      val shield = protectedFiles
      val scheduled = pending.map(parseEntry(_)._2).toSet
      dataFiles.filterNot(shield)
        .filterNot(f => covering(f).exists(scheduled))
        .foreach(f => fs.delete(path(f), false))
    }

    /** Steal `lock` if its lease has expired: re-check the mtime, rename
      * it aside, and keep the steal only if the renamed file is the very
      * lock judged stale. True when the stale lock is gone.
      */
    private def stealStale(lock: Path, leaseMs: Long): Boolean = {
      val stale =
        try {
          val m = fs.getFileStatus(lock).getModificationTime
          if (System.currentTimeMillis() - m > leaseMs)
            Some((m, readText(lock)))
          else None
        } catch { case _: IOException => None }
      stale.exists { case (mtime, content) =>
        val same =
          try fs.getFileStatus(lock).getModificationTime == mtime
          catch { case _: IOException => false }
        val litter =
          path(layout.lock + ".steal." + java.util.UUID.randomUUID())
        same && (try fs.rename(lock, litter)
                 catch { case _: IOException => false }) && {
          val moved =
            try readText(litter) catch { case _: IOException => "" }
          if (moved == content) fs.delete(litter, false)
          else fs.rename(litter, lock) // moved a fresh lock: undo
          moved == content
        }
      }
    }

    /** Run `body` holding the writer lock (header, step 5). */
    def withLock[T](owner: String, leaseMs: Long = 600000L,
                    timeoutMs: Long = 600000L)(body: => T): T = {
      val lock = path(layout.lock)
      jvmLocks.computeIfAbsent(lock.toString, _ => new Object).synchronized {
        fs.mkdirs(root)
        val deadline = System.currentTimeMillis() + timeoutMs
        val token = owner + ":" + java.util.UUID.randomUUID()
        def ours(p: Path): Boolean =
          try readText(p).startsWith(token + " ")
          catch { case _: IOException => false }
        var held = false
        while (!held) {
          val created =
            try {
              val out = fs.create(lock, false) // create-no-overwrite
              try out.write(s"$token ${System.currentTimeMillis()}"
                .getBytes("UTF-8"))
              finally out.close()
              true
            } catch { case _: IOException => false }
          if (created) {
            if (ours(lock)) held = true else Thread.sleep(50)
          } else if (!stealStale(lock, leaseMs)) {
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"lock $lock not released within $timeoutMs ms")
            Thread.sleep(50)
          }
        }
        try {
          fs.listStatus(root).foreach { st =>
            if (st.getPath.getName.startsWith(layout.lock + ".steal.") &&
                System.currentTimeMillis() - st.getModificationTime > leaseMs)
              fs.delete(st.getPath, false)
          }
        } catch { case _: IOException => () }
        try body
        finally {
          val leaseLive =
            try System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime <= leaseMs
            catch { case _: IOException => false }
          if (leaseLive && ours(lock)) fs.delete(lock, false)
        }
      }
    }
  }
}
