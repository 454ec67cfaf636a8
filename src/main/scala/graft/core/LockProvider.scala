package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Pluggable atomic-exclusion primitive behind the ledger's maintenance
  * lock and the Runner's per-index claims.
  *
  * The reference serializes destructive store maintenance through SQLite's
  * WAL + busy_timeout (`pipeline_store.py:758-777`); on a shared
  * filesystem the equivalent is an exclusion marker. WHICH primitive can
  * create that marker atomically is per-store:
  *
  *  - local `file://` — NIO `Files.createFile` (O_EXCL). Hadoop's own
  *    `create(overwrite=false)` on the local FS is CHECK-THEN-CREATE, the
  *    TOCTOU the r12 worker-race soak hit at 80 indices (BASELINE.md
  *    "Round-12: worker-race soak").
  *  - HDFS-class stores — `create(overwrite=false)`, enforced atomically
  *    server-side (the namenode serializes creates).
  *  - S3-class object stores — NO atomic create-exclusive at the Hadoop
  *    FS API level: PUT is last-writer-wins, so check-then-create races.
  *    [[LockProvider.Lease]] narrows this with a fencing-token lease:
  *    read (refuse live foreign) → re-read immediately before the PUT →
  *    PUT own token → settle delay → read-back-verify. With strong
  *    read-after-write consistency (S3 since 2020) two contenders
  *    ACTIVELY racing resolve within the settle window: exactly the
  *    surviving token's writer claims victory, every other contender
  *    reads a foreign token and refuses. Release and renewal are
  *    token-guarded, so a contender that lost the overwrite race can
  *    never delete or extend the winner's lease.
  *
  *    RESIDUAL WINDOW, stated honestly: a contender STALLED between its
  *    pre-PUT read (absent/stale) and its PUT — a GC pause or preemption
  *    longer than one GET+PUT round-trip — can still overwrite a lease a
  *    rival acquired and settled in the meantime, and both pass their own
  *    read-back windows. The lease protocol alone is therefore exclusion
  *    with high probability, not a proof; the SAFETY net is fencing at
  *    the resource: destructive phases re-[[LockProvider.verify]] the
  *    token before every install/unlink (the ledger's maintenance
  *    rewrites do exactly this), so a holder whose lease was overwritten
  *    aborts before damage instead of proceeding. A store with a true
  *    CAS primitive (S3 conditional PUT, GCS generation preconditions)
  *    should get its own provider; the Hadoop FS API doesn't expose one.
  *
  * Selection is per-scheme via [[LockProvider.forFs]]: `file`/`hdfs` and
  * anything unconfigured default to [[LockProvider.CreateExclusive]];
  * a Hadoop conf entry `graft.lock.provider.<scheme>=lease` routes that
  * scheme through the lease protocol (settle window:
  * `graft.lock.lease.settle.ms`, default 2000 — covers one GET+PUT
  * round-trip with margin on real object stores; tests shrink it).
  */
trait LockProvider {

  /** Atomically acquire the exclusion marker at `path`. A marker older
    * than `ttlMs` is a crashed holder's and may be broken (stale-break is
    * crash RECOVERY, not normal mutual exclusion — live holders release
    * in `finally`). Returns true iff THIS caller now holds the marker.
    */
  def tryAcquire(fs: FileSystem, path: Path, ttlMs: Long): Boolean

  /** Release a marker this caller acquired (guarded where the protocol
    * can tell own from foreign — releasing a lock you lost must be a
    * no-op).
    */
  def release(fs: FileSystem, path: Path): Unit

  /** Extend a held lease (no-op where acquisition is permanent-until-
    * released). Returns false if the lease is no longer this caller's.
    */
  def renew(fs: FileSystem, path: Path): Boolean = true

  /** Resource fence: is the marker at `path` still THIS caller's? Checked
    * by destructive phases immediately before each install/unlink, so a
    * holder whose lock was stolen (lease overwritten in the residual
    * race window, or stale-broken after a pause past the TTL) aborts
    * before damage. Where the protocol can't tell own from foreign
    * (create-exclusive has no token), presence is the best available
    * check — a stolen-and-held marker passes, but the stale-break that
    * enables stealing there requires the holder to have already stopped
    * renewing for a full TTL.
    */
  def verify(fs: FileSystem, path: Path): Boolean = true
}

object LockProvider {

  /** Default: per-scheme atomic create-exclusive (NIO O_EXCL on
    * `file://`, `create(overwrite=false)` elsewhere — correct on HDFS,
    * UNSAFE on object stores; see [[LockProvider.Lease]]).
    */
  object CreateExclusive extends LockProvider {
    override def tryAcquire(fs: FileSystem, path: Path, ttlMs: Long): Boolean = {
      val age = try Some(System.currentTimeMillis() -
        fs.getFileStatus(path).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
      if (age.exists(_ > ttlMs))
        fs.delete(path, false) // crashed holder's stale marker
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(path.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { fs.create(path, false).close(); true }
        catch { case _: java.io.IOException => false }
      }
    }

    override def release(fs: FileSystem, path: Path): Unit =
      fs.delete(path, false)

    /** Renewal = refresh the marker's mtime (staleness is mtime-based). */
    override def renew(fs: FileSystem, path: Path): Boolean =
      try { fs.setTimes(path, System.currentTimeMillis(), -1); true }
      catch { case _: java.io.IOException => false }

    /** No token to compare — presence is the strongest available check. */
    override def verify(fs: FileSystem, path: Path): Boolean =
      try fs.getFileStatus(path) != null
      catch { case _: java.io.FileNotFoundException => false }
  }

  /** Fencing-token lease for last-writer-wins stores (see the trait doc
    * for the safety argument). Each provider INSTANCE carries its own
    * token, so one process acquiring two different paths is fine, and a
    * process that lost an overwrite race holds a token the surviving
    * lease doesn't match.
    *
    * COST, stated honestly: every successful acquire sleeps `settleMs`
    * (the read-back-verify window). That is nothing for the maintenance
    * lock (one acquire per compact/reset) but material for PER-INDEX
    * claims — a 10⁴-index run would spend 10⁴·settle in sleeps. On an
    * object store, either coordinate claims on a consistent store (the
    * documented recommendation), enlarge the work grain (fewer, larger
    * indices), or accept the latency; correctness holds regardless.
    */
  final class Lease(settleMs: Long) extends LockProvider {
    private val token = java.util.UUID.randomUUID().toString

    /** A lease file's observed state. `Garbled` (empty or unparsable) is
      * NOT absent: on a store whose writes are not atomically visible, it
      * means a PUT is in flight THIS INSTANT — treating it as absent let a
      * contender steal a just-created claim on the simulated object store
      * (one index committed twice; BASELINE.md "Race soaks on the simulated
      * object store", pinned by LockProviderSpec's torn-lease test). Real
      * object-store PUTs are atomic-visibility, so Garbled there means a
      * torn/corrupt object — refusing is the right call in both worlds.
      */
    private sealed trait LeaseState
    private case object Absent extends LeaseState
    private case object Garbled extends LeaseState
    private final case class Held(t: String, ts: Long) extends LeaseState

    private def readLease(fs: FileSystem, path: Path): LeaseState =
      try {
        val in = fs.open(path)
        val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
        val s = new String(bytes, StandardCharsets.UTF_8)
        val i = s.indexOf('\n')
        if (i < 0) Garbled
        else Held(s.substring(0, i), s.substring(i + 1).trim.toLong)
      } catch {
        case _: java.io.FileNotFoundException => Absent
        case _: NumberFormatException => Garbled
      }

    private def put(fs: FileSystem, path: Path): Unit = {
      val out = fs.create(path, true) // last-writer-wins PUT, by design
      try out.write(s"$token\n${System.currentTimeMillis()}"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }

    private def mtimeAge(fs: FileSystem, path: Path): Option[Long] =
      try Some(System.currentTimeMillis() -
        fs.getFileStatus(path).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }

    override def tryAcquire(fs: FileSystem, path: Path, ttlMs: Long): Boolean = {
      readLease(fs, path) match {
        case Held(t, ts) if t != token &&
            System.currentTimeMillis() - ts <= ttlMs =>
          return false // fresh foreign lease — refuse WITHOUT writing
        case Garbled =>
          // a PUT in flight — refuse, UNLESS the writer died mid-PUT long
          // ago (mtime past the TTL): then break the remnant and contend
          if (!mtimeAge(fs, path).exists(_ > ttlMs)) return false
          fs.delete(path, false)
        case _ => () // absent, stale, or our own crashed remnant
      }
      // Re-read IMMEDIATELY before the PUT: if this contender stalled
      // after the screening read above (GC pause, preemption), a rival may
      // have acquired and settled in the meantime — overwriting its live
      // lease would mint two winners. This narrows the stall-exposed gap
      // to one GET+PUT; the residual window is closed at the resource by
      // verify() before destructive phases (see the trait doc).
      readLease(fs, path) match {
        case Held(t, ts) if t != token &&
            System.currentTimeMillis() - ts <= ttlMs => return false
        case Garbled => return false // a PUT is in flight this instant
        case _ => ()
      }
      put(fs, path)
      Thread.sleep(settleMs) // let a racing PUT land
      readLease(fs, path) match {
        case Held(t, _) => t == token // survived = acquired
        case _ => false // overwritten, deleted, or torn — not ours
      }
    }

    override def release(fs: FileSystem, path: Path): Unit =
      // token-guarded: never delete a lease we lost to a racing writer
      readLease(fs, path) match {
        case Held(t, _) if t == token => fs.delete(path, false); ()
        case _ => ()
      }

    override def renew(fs: FileSystem, path: Path): Boolean =
      readLease(fs, path) match {
        case Held(t, _) if t == token =>
          // the release path interrupts the renewer and JOINS it before
          // deleting the lease; still, don't re-PUT once interrupted — a
          // renew racing its own release would re-create the just-deleted
          // file as an orphan that refuses all maintenance until the TTL
          if (Thread.currentThread().isInterrupted) false
          else { put(fs, path); true }
        case _ => false
      }

    /** The real fence: the lease must still carry OUR token. */
    override def verify(fs: FileSystem, path: Path): Boolean =
      readLease(fs, path) match {
        case Held(t, _) => t == token
        case _ => false
      }
  }

  /** Provider for `fs`, per the documented scheme routing. */
  def forFs(fs: FileSystem): LockProvider =
    fs.getConf.get(s"graft.lock.provider.${fs.getScheme}", "") match {
      case "lease" =>
        new Lease(fs.getConf.getLong("graft.lock.lease.settle.ms", 2000L))
      case _ => CreateExclusive
    }
}
