package graft.storage

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Pluggable filesystem layer for the engine's METADATA plane — every
  * manifest, journal marker, properties pin, cursor file, and fsck
  * sweep goes through this trait, so the six managed artifacts and the
  * two manifest stores open on whatever filesystem the corpus actually
  * lives on (HDFS, S3A, GCS, local POSIX), not just a shared POSIX
  * mount. The DATA plane (parquet segments) already rides Spark's
  * Hadoop FS via path strings; this closes the gap for the small-file
  * commit protocol around it.
  *
  * The reference's own `persist.Saver` SPI is the precedent
  * (internal/persist/interface.go:13-35): one storage interface, every
  * backend passes the same contract suite. Here the contract suites
  * (LogSpec, TableStoreSpec, ConsistencySpec, KillPointSpec) run as a
  * backend matrix over both implementations.
  *
  * Routing is by path shape: a bare POSIX path (`/data/store`) gets
  * [[LocalFileIO]] (java.nio with fsync + OS file locks); any
  * URI-schemed path (`hdfs://…`, `s3a://…`, and `file:/…` — the form
  * the contract matrix uses to drive the Hadoop leg on local disk)
  * gets [[HadoopFileIO]]. A store directory must always be addressed
  * by ONE path style: the two layers agree on layout but not on
  * sidecar files (Hadoop's local FS keeps `.crc` checksums), so mixing
  * styles on one live store is refused-by-documentation, like mixing
  * engines on one RocksDB dir.
  *
  * == Commit atomicity by backend ==
  *
  *   - '''local''': tmp write + fsync + `ATOMIC_MOVE` + directory
  *     fsync — crash-durable rename, plus an OS file lock serializing
  *     same-dir committers across processes.
  *   - '''HDFS (and any FS with atomic rename)''': tmp write +
  *     `FileContext.rename(OVERWRITE)` — atomic on HDFS by contract.
  *     No cross-process lock exists; the single-committer-per-store
  *     discipline (which the engine already requires — see
  *     [[Manifest]]) is the deployment contract, and the manifest
  *     version CAS turns most races into loud
  *     `ConcurrentWriteException`s rather than silent lost updates.
  *   - '''object stores (s3a/gs/oss/abfs/…)''': rename is copy+delete
  *     and NOT atomic, so the manifest is written DIRECTLY — a single
  *     PUT, which object stores publish atomically on close (readers
  *     see the old object or the new one, never a torn one). Segment
  *     files never need atomic rename on any backend: their visibility
  *     is manifest-gated, and a crash's litter is invisible to readers
  *     and swept by fsck.
  */
private[graft] trait FileIO {
  def exists(path: String): Boolean
  def mkdirs(dir: String): Unit

  def readBytes(path: String): Array[Byte]
  final def readString(path: String): String =
    new String(readBytes(path), UTF_8)

  /** Atomically publish a small whole file (manifest / marker / cursor
    * commit point): after this returns the new content is durably
    * visible; a crash before it leaves the old content (or staged
    * litter that fsck sweeps). `onStaged` runs at the point where the
    * content is staged but NOT yet published — the kill-matrix hook
    * ("torn commit" crash window). */
  def writeAtomic(
      path: String,
      bytes: Array[Byte],
      onStaged: () => Unit = () => ()): Unit

  /** True when `path` lives on a backend whose commits go through
    * direct single-object PUTs (object stores — no atomic rename, no
    * cross-process locks). These backends commit manifests through
    * the conditional-PUT marker protocol ([[Manifest.commit]]), which
    * turns the cross-process single-writer contract into a mechanism. */
  def isDirectPut(path: String): Boolean

  /** Atomically publish a small whole file ONLY if `path` does not
    * already exist — the object-store `If-None-Match: *` conditional
    * PUT (supported by S3 since 2024-08, GCS `ifGenerationMatch=0`,
    * ABFS ETag preconditions), an exclusive staged move locally.
    * Returns false when the object already exists (the lost race);
    * `onStaged` fires with the content staged but NOT yet published
    * (the kill-matrix crash window, like [[writeAtomic]]). */
  def createIfAbsent(
      path: String,
      bytes: Array[Byte],
      onStaged: () => Unit = () => ()): Boolean

  /** Delete one file (idempotent — absent is fine). */
  def delete(path: String): Unit
  def deleteRecursively(path: String): Unit

  /** Shallow listing; empty for an absent dir. */
  def list(dir: String): List[FileIO.Entry]

  def size(path: String): Long
  def mtimeMs(path: String): Long

  /** Move a staged file to its final name; the destination must not
    * exist. Used for segment publish, where atomicity is NOT required
    * for correctness (visibility is manifest-gated) — only that a
    * successful return means the destination is complete. */
  def rename(src: String, dst: String): Unit

  /** The file as a parquet-mr [[org.apache.parquet.io.InputFile]] —
    * footer reads, DirectRead point reads, executor segment scans. */
  def inputFile(path: String): org.apache.parquet.io.InputFile

  /** A NEW file as a parquet-mr [[org.apache.parquet.io.OutputFile]]
    * — the driver-side small-append row-group concat
    * ([[ParquetConcat]]) writes through this. */
  def outputFile(path: String): org.apache.parquet.io.OutputFile

  /** Critical section for a manifest commit on `dir`: serializes
    * same-process committers always, cross-process committers where
    * the backend has locks (local OS file lock); elsewhere the
    * single-committer deployment contract + version CAS apply. */
  def withDirLock[A](dir: String)(f: => A): A
}

private[graft] object FileIO {

  /** One listed child: `path` is full (same style as the query),
    * `mtimeMs` comes with the listing so age-gated sweeps don't pay a
    * stat per entry. */
  final case class Entry(
      name: String,
      path: String,
      isDir: Boolean,
      mtimeMs: Long)

  /** Diagnostic counter of per-file stat (`size`) calls, incremented
    * by every backend impl — tests assert that PLANNING an N-segment
    * store issues zero of these (segment bytes ride the manifest;
    * guide §5/§6 driver-side planning tax). */
  private[graft] val sizeCalls = new java.util.concurrent.atomic.AtomicLong()

  /** URI-scheme sniff: `hdfs://…`, `s3a://…`, `file:/…` route to
    * Hadoop; bare POSIX paths stay on java.nio. (Single-letter
    * prefixes are excluded so Windows-style `C:` never parses as a
    * scheme; this engine targets Linux but the guard is free.) */
  def hasScheme(path: String): Boolean = {
    val i = path.indexOf(':')
    i > 1 && path(0).isLetter &&
    path.substring(0, i).forall(c =>
      c.isLetterOrDigit || c == '+' || c == '.' || c == '-')
  }

  def forPath(path: String): FileIO =
    if (hasScheme(path)) HadoopFileIO else LocalFileIO

  /** Path join that preserves the dir's URI scheme (java.nio's
    * `Paths.get` would mangle `s3a://…`). Store layouts only ever nest
    * forward-slash relative names, on every backend. */
  def join(dir: String, name: String): String =
    dir.stripSuffix("/") + "/" + name

  /** Hidden-by-convention names (Hadoop sidecars like `.crc`, Spark
    * markers like `_SUCCESS`) — skipped by listings that enumerate
    * segments or litter, the same convention Spark's file index uses. */
  def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Load a java-properties pin/marker file; None when absent. One
    * read, no exists-then-read pair: a file deleted between the two
    * reads None, not FileNotFoundException. */
  def loadProps(path: String): Option[java.util.Properties] = {
    val bytes =
      try Some(forPath(path).readBytes(path))
      catch {
        case _: java.io.FileNotFoundException => None
        case _: java.nio.file.NoSuchFileException => None
      }
    bytes.map { b =>
      val p = new java.util.Properties()
      p.load(new java.io.ByteArrayInputStream(b))
      p
    }
  }

  /** Atomically publish a properties pin/marker file. */
  def storeProps(
      path: String,
      props: java.util.Properties,
      comment: String): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    props.store(bos, comment)
    forPath(path).writeAtomic(path, bos.toByteArray)
  }
}

/** java.nio implementation — bare POSIX paths. Semantics are exactly
  * the engine's original local discipline: fsync'd tmp + ATOMIC_MOVE +
  * directory fsync for commits, OS file lock + JVM monitor for the
  * commit critical section. */
private[graft] object LocalFileIO extends FileIO {

  private def p(s: String): Path = Paths.get(s)

  override def exists(path: String): Boolean = Files.exists(p(path))
  override def mkdirs(dir: String): Unit = Files.createDirectories(p(dir))
  override def readBytes(path: String): Array[Byte] = Files.readAllBytes(p(path))

  override def isDirectPut(path: String): Boolean = false

  override def createIfAbsent(
      path: String,
      bytes: Array[Byte],
      onStaged: () => Unit): Boolean = {
    val target = p(path)
    val tmp = p(path + s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val ch = java.nio.channels.FileChannel.open(
      tmp,
      StandardOpenOption.CREATE,
      StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    onStaged()
    try {
      // hard-link publish: link(2) is atomic AND fails EEXIST when
      // the target exists — a plain ATOMIC_MOVE would silently
      // REPLACE on POSIX (rename(2) semantics), losing the race
      // detection this method exists for
      Files.createLink(target, tmp)
      fsyncDir(target.getParent)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  override def writeAtomic(
      path: String,
      bytes: Array[Byte],
      onStaged: () => Unit): Unit = {
    val target = p(path)
    val tmp = p(path + ".tmp")
    val ch = java.nio.channels.FileChannel.open(
      tmp,
      StandardOpenOption.CREATE,
      StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    onStaged()
    Files.move(
      tmp,
      target,
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    fsyncDir(target.getParent)
  }

  override def delete(path: String): Unit = Files.deleteIfExists(p(path))

  override def deleteRecursively(path: String): Unit =
    if (Files.exists(p(path))) {
      val w = Files.walk(p(path))
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }

  override def list(dir: String): List[FileIO.Entry] = {
    if (!Files.exists(p(dir))) return Nil
    val s = Files.list(p(dir))
    try s.iterator().asScala.map { f =>
      FileIO.Entry(
        f.getFileName.toString,
        f.toString,
        Files.isDirectory(f),
        try Files.getLastModifiedTime(f).toMillis
        catch { case _: Exception => Long.MaxValue })
    }.toList
    finally s.close()
  }

  override def size(path: String): Long = {
    FileIO.sizeCalls.incrementAndGet()
    Files.size(p(path))
  }
  override def mtimeMs(path: String): Long =
    Files.getLastModifiedTime(p(path)).toMillis

  override def rename(src: String, dst: String): Unit =
    Files.move(p(src), p(dst), StandardCopyOption.ATOMIC_MOVE)

  override def inputFile(path: String): org.apache.parquet.io.InputFile =
    new org.apache.parquet.io.LocalInputFile(p(path))

  override def outputFile(path: String): org.apache.parquet.io.OutputFile =
    new org.apache.parquet.io.LocalOutputFile(p(path))

  // per-directory JVM monitor: serializes same-process committers on
  // one dir (and prevents OverlappingFileLockException on the OS lock
  // below — FileLock is held per JVM, not per thread)
  private val dirMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  override def withDirLock[A](dir: String)(f: => A): A = {
    mkdirs(dir)
    val monitor = dirMonitors.getOrElseUpdate(
      p(dir).toAbsolutePath.normalize.toString, new Object)
    monitor.synchronized {
      val lockCh = java.nio.channels.FileChannel.open(
        p(FileIO.join(dir, "manifest.lock")),
        StandardOpenOption.CREATE,
        StandardOpenOption.WRITE)
      try {
        val lock = lockCh.lock()
        try f
        finally lock.release()
      } finally lockCh.close()
    }
  }

  /** Best-effort directory fsync (makes the rename itself durable on
    * Linux filesystems; unsupported platforms are a no-op). */
  private def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(
        dir, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: Exception => () }
}

/** Hadoop FileSystem implementation — any URI-schemed path. Resolved
  * per call through the Hadoop FS cache (one client per scheme ×
  * authority per JVM), with the active SparkSession's Hadoop conf when
  * one exists (driver) and the default `Configuration` otherwise
  * (executors, whose classpath carries the cluster's conf dir). */
private[graft] object HadoopFileIO extends FileIO {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

  private def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  // `file:` goes through RawLocalFileSystem, not the default
  // ChecksumFileSystem wrapper: the raw FS's rename is the platform
  // rename(2) — atomic over an existing destination — while the
  // checksum wrapper's FileContext rename(OVERWRITE) on local disk is
  // delete-then-rename (a visibility gap a concurrent manifest reader
  // can fall into), and its `.crc` sidecars would otherwise shadow
  // every metadata file. HDFS and other remote schemes keep their
  // native FileSystem (their renames are server-side atomic ops).
  private lazy val rawLocal: FileSystem = {
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), conf)
    raw
  }

  private def fs(path: HPath): FileSystem = {
    val scheme = Option(path.toUri.getScheme).getOrElse("file")
    if (scheme == "file") rawLocal else path.getFileSystem(conf)
  }

  /** Schemes whose rename is copy+delete (no atomic rename): commits
    * go through a direct single-object PUT instead (atomic on close
    * by the stores' own contract). Extensible per deployment via the
    * Hadoop conf key `graft.fileio.direct-put-schemes` (comma-
    * separated) — new object-store connectors appear (oci, ceph,
    * custom gateways) and their schemes must route to the PUT commit
    * without a code change; the fault-injection matrix also uses this
    * to drive the whole store contract over an emulated
    * no-atomic-rename filesystem. */
  private val DirectPutSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs",
      "abfs", "abfss", "swift")

  private def directPutSchemes: Set[String] =
    DirectPutSchemes ++ Option(conf.get("graft.fileio.direct-put-schemes"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  override def exists(path: String): Boolean = {
    val hp = new HPath(path)
    fs(hp).exists(hp)
  }

  override def mkdirs(dir: String): Unit = {
    val hp = new HPath(dir)
    fs(hp).mkdirs(hp)
  }

  override def isDirectPut(path: String): Boolean =
    directPutSchemes.contains(
      Option(new HPath(path).toUri.getScheme).getOrElse("file"))

  override def createIfAbsent(
      path: String,
      bytes: Array[Byte],
      onStaged: () => Unit): Boolean = {
    val hp = new HPath(path)
    val f = fs(hp)
    if (isDirectPut(path)) {
      // conditional PUT: create(overwrite = false) is the store's
      // If-None-Match — the object either publishes exclusively on
      // close or the create/close loses loudly (S3A with conditional
      // writes, GCS generation preconditions; the graftput emulation
      // enforces it at publish time). A lost race is `false`, any
      // other failure propagates.
      try {
        val out = f.create(hp, false)
        var published = false
        try {
          out.write(bytes)
          onStaged()
          out.close()
          published = true
        } finally if (!published) {
          try out.abort() catch { case _: Exception => () }
        }
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      // rename-capable backends: exclusive staged rename (HDFS's
      // FileSystem.rename refuses an existing destination)
      if (f.exists(hp)) return false
      val tmp = new HPath(
        path + s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      try {
        out.write(bytes)
        out.hflush()
      } finally out.close()
      onStaged()
      val won = f.rename(tmp, hp)
      if (!won) f.delete(tmp, false)
      won
    }
  }

  // The ONE opened stream is read to EOF: its length is never taken
  // from a separate getFileStatus, which a concurrent writeAtomic can
  // answer for the OTHER version (a truncated prefix or an EOF). The
  // open handle stays on one version on every backend (rename(2) keeps
  // the old inode; an object GET streams one object generation).
  override def readBytes(path: String): Array[Byte] = {
    val hp = new HPath(path)
    val in = fs(hp).open(hp)
    try in.readAllBytes()
    finally in.close()
  }

  override def writeAtomic(
      path: String,
      bytes: Array[Byte],
      onStaged: () => Unit): Unit = {
    val hp = new HPath(path)
    val f = fs(hp)
    if (directPutSchemes.contains(
        Option(hp.toUri.getScheme).getOrElse("file"))) {
      // object store: one PUT, published atomically on close — a
      // crash (or injected fault) before close leaves the old object
      // untouched. The failure path must NOT plain-close (close IS
      // the publish on these stores): abort the upload where the
      // stream supports it (Hadoop 3.3+ Abortable), else just drop
      // it — a never-completed multipart upload is invisible and the
      // store's lifecycle rules reap it
      val out = f.create(hp, true)
      var published = false
      try {
        out.write(bytes)
        onStaged()
        out.close()
        published = true
      } finally if (!published) {
        try out.abort() catch { case _: Exception => () }
      }
    } else {
      val tmp = new HPath(path + ".tmp")
      val out = f.create(tmp, true)
      try {
        out.write(bytes)
        out.hflush()
      } finally out.close()
      onStaged()
      if (f eq rawLocal) {
        // raw local rename IS rename(2): atomic over an existing
        // destination (the FileContext local adapter would
        // delete-then-rename — a reader-visible gap)
        require(f.rename(tmp, hp), s"rename $tmp -> $hp failed")
      } else
        // FileContext.rename(OVERWRITE): atomic on HDFS by contract —
        // the plain FileSystem.rename would refuse an existing
        // destination
        FileContext.getFileContext(hp.toUri, conf)
          .rename(tmp, hp, Options.Rename.OVERWRITE)
    }
  }

  override def delete(path: String): Unit = {
    val hp = new HPath(path)
    fs(hp).delete(hp, false)
    ()
  }

  override def deleteRecursively(path: String): Unit = {
    val hp = new HPath(path)
    fs(hp).delete(hp, true)
    ()
  }

  override def list(dir: String): List[FileIO.Entry] = {
    val hp = new HPath(dir)
    val f = fs(hp)
    if (!f.exists(hp)) Nil
    else
      f.listStatus(hp).toList.map { st =>
        FileIO.Entry(
          st.getPath.getName,
          FileIO.join(dir, st.getPath.getName),
          st.isDirectory,
          st.getModificationTime)
      }
  }

  override def size(path: String): Long = {
    FileIO.sizeCalls.incrementAndGet()
    val hp = new HPath(path)
    fs(hp).getFileStatus(hp).getLen
  }

  override def mtimeMs(path: String): Long = {
    val hp = new HPath(path)
    fs(hp).getFileStatus(hp).getModificationTime
  }

  override def rename(src: String, dst: String): Unit = {
    val sp = new HPath(src)
    val dp = new HPath(dst)
    require(fs(sp).rename(sp, dp), s"rename $src -> $dst failed")
  }

  override def inputFile(path: String): org.apache.parquet.io.InputFile =
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new HPath(path), conf)

  override def outputFile(path: String): org.apache.parquet.io.OutputFile =
    org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new HPath(path), conf)

  // no OS advisory locks on shared filesystems: same-process
  // committers serialize on the monitor; cross-process safety is the
  // single-committer deployment contract + the manifest version CAS
  // (a lost race surfaces as ConcurrentWriteException on the next
  // commit, never as a silently dropped segment list)
  private val dirMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  override def withDirLock[A](dir: String)(f: => A): A = {
    mkdirs(dir)
    val monitor = dirMonitors.getOrElseUpdate(
      new HPath(dir).toUri.toString, new Object)
    monitor.synchronized(f)
  }
}
