package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the serial-run lockout shared by Bench and Verify (VERDICT r12
  * item 4). The contract under test:
  *
  *   1. acquire() really takes the OS file lock (a second channel on
  *      the same path cannot lock it — within one JVM the JDK raises
  *      OverlappingFileLockException, which is exactly the signal that
  *      the region is held);
  *   2. acquire() is idempotent within the JVM (Bench and Verify can
  *      both call it in one sbt fork without self-deadlocking);
  *   3. the lock is pinned in object fields, not locals — asserted
  *      structurally via isHeld, which reads the pinned field the
  *      ADVICE-r12 fix introduced (a locals-only lock has no such
  *      field to read; the GC/cleaner release hazard is why).
  *
  * Cross-PROCESS blocking (a second JVM waits instead of co-running)
  * was verified live in r12 (BASELINE r12 s4: queued bench waited
  * 21.0s then completed) — a subprocess JVM here would cost more than
  * it pins, and the same-JVM OverlappingFileLockException proof covers
  * the kernel-side half: the lock is real, held, and file-scoped.
  */
class RunLockSpec extends AnyFunSuite {
  test("acquire takes a real OS lock, idempotently, pinned for the JVM lifetime") {
    val tmp = java.nio.file.Files.createTempFile("graft_runlock_spec", ".lock")
    sys.props("graft.runlock.path") = tmp.toString
    try {
      assert(RunLock.lockPath == tmp, "sys-prop override must redirect the lock path")
      RunLock.acquire("spec")
      assert(RunLock.isHeld, "after acquire the object-level pin must be populated")

      // (1) the OS lock is genuinely held: an independent channel on the
      // same file cannot take it. Same-JVM contention surfaces as
      // OverlappingFileLockException (the JVM tracks its own regions);
      // either that or a null tryLock proves the region is unavailable.
      val probe = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val denied =
          try probe.tryLock() == null
          catch { case _: java.nio.channels.OverlappingFileLockException => true }
        assert(denied, "a second channel must not be able to lock the held file")
      } finally probe.close()

      // (2) idempotent re-acquire: must return immediately, not deadlock
      // on its own lock (Verify calls acquire after Bench already did in
      // shared-JVM builder iterations).
      RunLock.acquire("spec-again")
      assert(RunLock.isHeld)
    } finally {
      sys.props -= "graft.runlock.path"
      // the pin is deliberately never released in-process (JVM exit is
      // the release); the temp file is tiny and the test JVM exits.
    }
  }

  test("bounded wait: a live-but-hung external holder times out; a finishing one hands over") {
    // The hazard this pins (r13): the kernel releases a DEAD holder's
    // lock, but a live-but-hung bench JVM would block an unbounded
    // ch.lock() forever — wedging the driver's one Verify run and
    // zeroing the round's correctness. awaitOrTimeout bounds that:
    // timeout → null (acquire proceeds loudly without the lock).
    val tmp = java.nio.file.Files.createTempFile("graft_runlock_wait", ".lock")

    // External holder: a real OS lock from another process. NOT
    // flock(1) — that takes a BSD flock(2) lock, which on Linux does
    // not interact with the POSIX fcntl record locks Java's
    // FileChannel.lock uses (probed: the JVM acquired straight through
    // a flock holder). python's fcntl.lockf IS the fcntl family.
    val python3 =
      try new ProcessBuilder("python3", "-c", "pass").start().waitFor() == 0
      catch { case _: java.io.IOException => false }
    assume(python3, "python3 is absent: no external fcntl lock holder can be started")

    // The holder prints a line once lockf has returned, so the spec
    // waits for the lock to be HELD — a fixed sleep raced a slow
    // interpreter start on a loaded host and let the waiter in first.
    def holdFor(sec: String): Process = {
      val p = new ProcessBuilder("python3", "-c",
        "import fcntl,time,sys; f=open(sys.argv[1],'w'); " +
          "fcntl.lockf(f, fcntl.LOCK_EX); print('held', flush=True); " +
          "time.sleep(float(sys.argv[2]))",
        tmp.toString, sec).start()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream)).readLine()
      if (line != "held") {
        p.destroyForcibly()
        fail(s"the python3 holder did not take the lock (said: $line)")
      }
      p
    }

    val hung = holdFor("60")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val t0 = System.nanoTime()
        val lk = RunLock.awaitOrTimeout(ch, deadlineMs = 1500)
        val waited = (System.nanoTime() - t0) / 1e9
        // no upper wall-clock bound: a loaded host may stretch the wait,
        // and an unbounded wait is caught by lk == null (the holder
        // lives 60 s, so an unbounded waiter comes back WITH the lock)
        assert(lk == null, "a held lock must time out, not hang")
        assert(waited >= 1.0, f"returned after $waited%.1fs, before the 1.5 s deadline")
      } finally ch.close()
    } finally { hung.destroyForcibly(); hung.waitFor() }

    // and the normal case: the holder finishes inside the deadline and
    // the waiter really acquires
    val brief = holdFor("2")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lk = RunLock.awaitOrTimeout(ch, deadlineMs = 30000)
        assert(lk != null, "the waiter must acquire once the holder exits")
        lk.release()
      } finally ch.close()
    } finally { brief.destroyForcibly(); brief.waitFor() }
  }
}
