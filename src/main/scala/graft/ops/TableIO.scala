package graft.ops

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Commit-protocol metadata I/O seam for [[CdcTable]] — the same seam
  * discipline [[graft.sources.EnvelopeSource]] applies to reads, applied
  * to the table's COMMIT path: pointer publish, version reservation,
  * manifest/schema sidecar read/write, commit-dir listing, carry-over
  * linking, history GC. The DATA path (parquet read/write) already goes
  * through Spark's Hadoop filesystem layer and is object-store-ready;
  * this trait is what frees the commit protocol from its POSIX
  * assumptions for the reference's S3/MinIO deployment target
  * (incremental_kafka_s3_cdc.py:28-35).
  *
  * Mapping to an object store (an `S3TableIO` would implement):
  *
  *   - `writeAtomic` (the `_current` pointer publish — the ONE primitive
  *     whose atomicity the whole protocol rests on) -> conditional PUT
  *     (If-Match on the pointer object's ETag / If-None-Match for the
  *     first commit), the same primitive Delta-on-S3 and Iceberg REST
  *     catalogs use; stores without conditional PUT need a coordinating
  *     catalog (DynamoDB lock table, Iceberg catalog) — exactly the
  *     reference's setup, where the Iceberg CATALOG owns the pointer.
  *   - `createDirExclusive` (version reservation) -> If-None-Match PUT
  *     of a `vNNNNNNNN/_reserved` marker object.
  *   - `linkOrCopy` (clone/branch/publish carry of a whole table state,
  *     and the untouched files of a dir `materializeDeletes` rewrites)
  *     -> server-side COPY (S3 CopyObject is metadata-only within a
  *     bucket). Other commits never call it: unchanged data carries
  *     forward as manifest POINTER copies, with no file operation at all.
  *   - `list`/`exists`/`readString` -> LIST/HEAD/GET; `lastModified` ->
  *     the object's Last-Modified header.
  *   - `deleteRecursively` -> prefix delete (versioned-bucket lifecycle
  *     rules are the production-grade variant).
  *
  * All paths are plain strings (the local implementation treats them as
  * filesystem paths; an object-store one as key prefixes).
  */
trait TableIO {
  import TableIO.Entry

  def exists(path: String): Boolean
  /** File content as a string; the caller has checked existence. */
  def readString(path: String): String
  /** Non-empty lines of a text file. */
  def readLines(path: String): Seq[String]
  /** Plain (non-atomic) write, parents created. */
  def writeString(path: String, content: String): Unit
  /** ATOMIC publish: readers see the old content or the new, never a
    * torn write — temp + rename locally, conditional PUT on a store.
    */
  def writeAtomic(path: String, content: String): Unit
  def mkdirs(path: String): Unit
  /** Atomically claim a directory; false when it already exists — the
    * version-reservation primitive (at most one claimant wins).
    */
  def createDirExclusive(path: String): Boolean
  /** Children of a directory (empty when absent). */
  def list(path: String): Seq[Entry]
  def lastModified(path: String): Long
  /** Carry an immutable file to a new location without rewriting data:
    * hard link locally, server-side copy on a store.
    */
  def linkOrCopy(src: String, dst: String): Unit
  def copy(src: String, dst: String): Unit
  def deleteRecursively(path: String): Unit
}

object TableIO {
  /** A directory child: bare name + kind. */
  final case class Entry(name: String, isDir: Boolean)
}

/** POSIX-filesystem implementation — the offline/local default. Rename
  * is atomic, mkdir is exclusive, hard links are free: the strongest
  * (and cheapest) version of every primitive.
  */
object LocalTableIO extends TableIO {
  import TableIO.Entry

  def exists(path: String): Boolean = new File(path).exists()

  def readString(path: String): String = Files.readString(Paths.get(path))

  def readLines(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)
  }

  def writeString(path: String, content: String): Unit = {
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    Files.writeString(Paths.get(path), content): Unit
  }

  def writeAtomic(path: String, content: String): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(p => Files.createDirectories(p): Unit)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  def mkdirs(path: String): Unit = { new File(path).mkdirs(): Unit }

  def createDirExclusive(path: String): Boolean = {
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    try { Files.createDirectory(Paths.get(path)); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  def list(path: String): Seq[Entry] =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .map(f => Entry(f.getName, f.isDirectory)).toSeq

  def lastModified(path: String): Long = new File(path).lastModified()

  def linkOrCopy(src: String, dst: String): Unit = {
    Option(new File(dst).getParentFile).foreach(_.mkdirs())
    Files.createLink(Paths.get(dst), Paths.get(src)): Unit
  }

  def copy(src: String, dst: String): Unit = {
    Option(new File(dst).getParentFile).foreach(_.mkdirs())
    Files.copy(Paths.get(src), Paths.get(dst),
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  def deleteRecursively(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(c => deleteRecursively(c.getPath)))
    f.delete(): Unit
  }
}

/** Object-store-semantics implementation: every primitive is restricted
  * to what S3-class stores actually provide — GET/PUT/LIST/COPY/DELETE
  * with per-key atomicity — so running the commit protocol through this
  * implementation PROVES the protocol never leans on a POSIX-only
  * primitive. Specifically:
  *
  *   - NO rename: [[writeAtomic]] is a plain whole-object PUT, made
  *     atomic per key (a reader sees the old object or the new, never a
  *     torn write) exactly as a store's per-key linearization guarantees.
  *     The protocol's safety must come from the reservation chain — a
  *     writer publishes version v only after reading pointer v-1, so
  *     pointer PUTs are ordered by happens-before, and [[writeLog]] lets
  *     a test ASSERT the pointer history really was monotonic.
  *   - NO exclusive mkdir: [[createDirExclusive]] is an If-None-Match
  *     PUT of a `_reserved` marker object under the claimed prefix (the
  *     underscore name keeps it invisible to parquet readers and to the
  *     carry-over listings, which skip `_`/`.` files). Reclaiming a
  *     crashed reservation deletes the prefix, marker included, so
  *     takeover-then-re-reserve works unchanged.
  *   - NO hard links: [[linkOrCopy]] degrades to server-side COPY
  *     (CopyObject is metadata-speed within a bucket).
  *   - NO directory mtime: [[lastModified]] of a prefix is the max
  *     Last-Modified over its direct children (one LIST) — the progress
  *     signal mergeWithRetry's crashed-writer takeover polls.
  *
  * Objects are backed by the local filesystem (the DATA path writes
  * parquet through Spark's Hadoop layer into the same tree, as it would
  * through s3a), but no code path here renames, links, or relies on
  * directory atomicity. A real `S3TableIO` binds these same semantics to
  * the store's conditional PUT (If-None-Match for the marker; the plain
  * PUT for the pointer, whose ordering the reservation chain already
  * guarantees).
  */
final class ObjectStoreSimTableIO extends TableIO {
  import TableIO.Entry

  /** Per-key monitor: the stand-in for the store's per-key atomicity. */
  private val keyLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    keyLocks.computeIfAbsent(new File(path).getAbsolutePath, _ => new Object)

  /** Every atomic PUT in arrival order — (key, content); lets a spec
    * assert protocol-level invariants (e.g. pointer monotonicity) that
    * the POSIX implementation gets for free from rename.
    */
  val writeLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  private val ReservedMarker = "_reserved"

  def exists(path: String): Boolean = new File(path).exists()

  def readString(path: String): String = lockFor(path).synchronized {
    Files.readString(Paths.get(path))
  }

  def readLines(path: String): Seq[String] =
    readString(path).linesIterator.filter(_.nonEmpty).toSeq

  def writeString(path: String, content: String): Unit = {
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    lockFor(path).synchronized {
      Files.writeString(Paths.get(path), content): Unit
    }
  }

  // plain PUT under the key's monitor — no temp file, no rename
  def writeAtomic(path: String, content: String): Unit = {
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    lockFor(path).synchronized {
      Files.writeString(Paths.get(path), content): Unit
      writeLog.add((new File(path).getAbsolutePath, content)): Unit
    }
  }

  def mkdirs(path: String): Unit = { new File(path).mkdirs(): Unit }

  // If-None-Match PUT of the reservation marker: first claimant wins
  def createDirExclusive(path: String): Boolean = {
    val marker = new File(path, ReservedMarker)
    lockFor(marker.getPath).synchronized {
      if (marker.exists()) false
      else {
        new File(path).mkdirs()
        Files.writeString(marker.toPath, ""): Unit
        true
      }
    }
  }

  def list(path: String): Seq[Entry] =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .map(f => Entry(f.getName, f.isDirectory)).toSeq

  // prefix Last-Modified: max over direct children (one LIST), never a
  // directory mtime — prefixes have no metadata of their own on a store
  def lastModified(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (!f.isDirectory) f.lastModified()
    else Option(f.listFiles()).getOrElse(Array.empty)
      .foldLeft(0L)((m, c) => math.max(m, c.lastModified()))
  }

  // server-side COPY, never a hard link
  def linkOrCopy(src: String, dst: String): Unit = copy(src, dst)

  def copy(src: String, dst: String): Unit = {
    Option(new File(dst).getParentFile).foreach(_.mkdirs())
    Files.copy(Paths.get(src), Paths.get(dst),
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  def deleteRecursively(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(c => deleteRecursively(c.getPath)))
    f.delete(): Unit
  }
}

/** Fault-injecting [[TableIO]] wrapper: deterministic (seeded) latency
  * on every primitive plus transient failures on the MUTATING ones —
  * including the nastiest store behavior, the POST-APPLY failure, where
  * the request landed but the response was lost (S3 timeout after a
  * successful PUT). Running the commit protocol through this wrapper
  * over [[ObjectStoreSimTableIO]] proves the retry/takeover design's
  * actual claims:
  *
  *   - a post-apply failure on the RESERVATION marker strands the
  *     writer's own claim — its retry sees "already reserved" and must
  *     come back through the crashed-writer TAKEOVER path (stale
  *     prefix Last-Modified), never deadlock;
  *   - a post-apply failure on the POINTER PUT publishes a commit the
  *     writer believes failed — the caller-level replay then re-merges
  *     the same batch on top, and keyed-merge idempotency keeps the
  *     final state exact (no duplicate, no lost update);
  *   - a pre-apply failure mid-commit (manifest/sidecar writes) leaves
  *     a partial, never-published commit dir — invisible to readers,
  *     reclaimed by takeover when its version number comes up;
  *   - a failure inside expire()'s prefix delete leaves a partially
  *     GC'd retired version — harmless, re-swept by the next expire.
  *
  * Failures fire on every `failEveryN`-th mutating op, alternating
  * pre-apply / post-apply; latency is 0..`maxDelayMs` per op. All
  * scheduling is derived from `seed` so a failing schedule replays.
  */
final class ChaosTableIO(
    val inner: TableIO,
    seed: Long,
    failEveryN: Int = 13,
    maxDelayMs: Int = 2) extends TableIO {
  import TableIO.Entry

  final class TransientStoreException(msg: String)
    extends java.io.IOException(msg)

  private val opCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rng = new java.util.Random(seed)
  private def jitter(): Unit = {
    val d = rng.synchronized(rng.nextInt(maxDelayMs + 1))
    if (d > 0) Thread.sleep(d.toLong)
  }

  /** Latency-only wrap for reads/listings (a read failure retries
    * trivially at the client; the interesting races are write-side).
    */
  private def slow[A](body: => A): A = { jitter(); body }

  // Seeded-hash failure schedule at average rate 1/failEveryN — NOT the
  // strictly periodic `n % failEveryN == 0`: once a single writer loops
  // solo, its replay advances the op counter by a FIXED count k per
  // attempt, and when k resonates with the period the injector fails
  // the SAME op on every attempt — a deterministic livelock (observed
  // r15: writer 4 burned its whole replay budget on one createDirExclusive,
  // op #5555 = 505*11). splitmix64 of (op, seed) keeps the schedule
  // reproducible per seed while aperiodic w.r.t. any replay loop.
  private def shouldFail(n: Long): Boolean = {
    var z = n + seed
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, failEveryN.toLong) == 0L
  }

  /** Latency + alternating pre/post-apply transient failures. */
  private def chaos[A](op: String)(apply: => A): A = {
    val n = opCount.incrementAndGet()
    jitter()
    if (failEveryN > 0 && shouldFail(n)) {
      if ((n & 1L) == 0L) {
        apply // the request LANDED...
        throw new TransientStoreException(
          s"injected post-apply failure on $op (op #$n)") // ...the response died
      } else
        throw new TransientStoreException(
          s"injected pre-apply failure on $op (op #$n)")
    } else apply
  }

  def exists(p: String): Boolean = slow(inner.exists(p))
  def readString(p: String): String = slow(inner.readString(p))
  def readLines(p: String): Seq[String] = slow(inner.readLines(p))
  def list(p: String): Seq[Entry] = slow(inner.list(p))
  def lastModified(p: String): Long = slow(inner.lastModified(p))
  def mkdirs(p: String): Unit = slow(inner.mkdirs(p))

  def writeString(p: String, c: String): Unit =
    chaos(s"writeString $p")(inner.writeString(p, c))
  def writeAtomic(p: String, c: String): Unit =
    chaos(s"writeAtomic $p")(inner.writeAtomic(p, c))
  def createDirExclusive(p: String): Boolean =
    chaos(s"createDirExclusive $p")(inner.createDirExclusive(p))
  def linkOrCopy(s: String, d: String): Unit =
    chaos(s"linkOrCopy $d")(inner.linkOrCopy(s, d))
  def copy(s: String, d: String): Unit =
    chaos(s"copy $d")(inner.copy(s, d))
  def deleteRecursively(p: String): Unit =
    chaos(s"deleteRecursively $p")(inner.deleteRecursively(p))
}
