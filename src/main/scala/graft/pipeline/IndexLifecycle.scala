package graft.pipeline

/** Index-lifecycle machinery shared by the persisted index families
  * (the IVF-PQ [[AnnIndex]] and the kNN-graph [[GraphIndex]]): a
  * directory guard that coordinates readers with deletion, and a
  * generic named-handle registry with the serving door's
  * reuse-or-rebuild and cap semantics.
  *
  * Extracted from [[AnnIndex]] (round 21) so the graph family's REST
  * exposure gets the SAME concurrency discipline instead of a
  * parallel reimplementation: files are deleted only when the reader
  * count is zero, a condemned dir admits no new readers, and a
  * rebuild targeting a dir with a pending delete waits it out.
  */
object IndexLifecycle {

  /** Thrown by [[DirGuard.withReader]] when the index dir was dropped
    * between the registry lookup and the read — the lost race is
    * answered like any other missing index, not as a stream of
    * parquet IO failures from a half-deleted directory.
    */
  final class IndexDroppedException(dir: String)
    extends IllegalStateException(s"index at $dir was dropped")

  /** Thrown by [[IndexRegistry.openOrRebuildCachedBounded]] when a
    * session is at its index cap — the serving layer maps it to 429.
    */
  final class IndexCapExceededException(cap: Int)
    extends IllegalStateException(
      s"index cap reached ($cap); DELETE an index first")

  /** Coordinates readers (searches/appends) with directory deletion
    * (DROP, param-change rebuild). States guarded by one monitor —
    * transitions are microseconds; the actual file IO runs outside
    * the lock. Invariants: files are deleted only when the reader
    * count is zero; once condemned, no new reader can acquire; a
    * writer (rebuild into the same dir) blocks until the deletion
    * completes rather than racing its parquet writes against it.
    *
    * ONE global guard keyed by directory path — dirs are unique per
    * definition across both index families, so the two registries
    * share it safely.
    */
  object DirGuard {
    private final class St {
      var readers = 0
      var condemned = false // no new readers; delete when readers drain
      var deleting = false  // file IO in flight
      var deleted = false   // tombstone: files gone, refuse stale readers
    }
    private val states = scala.collection.mutable.HashMap[String, St]()

    def withReader[T](dir: String)(body: => T): T = {
      states.synchronized {
        val st = states.getOrElseUpdate(dir, new St)
        if (st.condemned || st.deleting || st.deleted)
          throw new IndexDroppedException(dir)
        st.readers += 1
      }
      try body finally release(dir)
    }

    /** True once `dir` is condemned, deleting or deleted — a version
      * that admits no new readers, so nothing built over it is worth
      * keeping past the request that built it.
      */
    def isDead(dir: String): Boolean = states.synchronized {
      states.get(dir).exists(st => st.condemned || st.deleting || st.deleted)
    }

    private def release(dir: String): Unit = {
      val deleteNow = states.synchronized {
        states.get(dir) match {
          case Some(st) =>
            st.readers -= 1
            if (st.readers == 0 && st.condemned && !st.deleting) {
              st.deleting = true; true
            } else {
              if (st.readers == 0 && !st.condemned) states.remove(dir): Unit
              false
            }
          case None => false
        }
      }
      if (deleteNow) doDelete(dir)
    }

    /** Mark `dir` dead: delete now if idle, else the last reader's
      * release deletes. Idempotent.
      */
    def condemn(dir: String): Unit = {
      val deleteNow = states.synchronized {
        val st = states.getOrElseUpdate(dir, new St)
        if (st.condemned || st.deleting || st.deleted) false
        else {
          st.condemned = true
          if (st.readers == 0) { st.deleting = true; true } else false
        }
      }
      // after the state change: a serving state built concurrently
      // either sees the dir dead at acquire or is retired here
      ServingState.release(dir)
      if (deleteNow) doDelete(dir)
    }

    /** The entry stays behind as a TOMBSTONE (deleted=true) rather
      * than vanishing: a stale handle's late [[withReader]] must be
      * refused with the typed exception, not silently re-admitted to
      * a directory that no longer exists. The next writer targeting
      * the path reclaims the tombstone in [[awaitClearForWrite]].
      */
    private def doDelete(dir: String): Unit =
      try deleteDirTree(dir)
      finally states.synchronized {
        states.get(dir).foreach { st =>
          st.deleting = false
          st.deleted = true
        }
        states.notifyAll()
      }

    /** Block a build that targets `dir` until any pending/condemned
      * deletion of the same path has finished — a DROP immediately
      * followed by an identical re-POST must rebuild into a fully
      * cleared directory, not interleave writes with the delete. A
      * completed deletion's tombstone is reclaimed here: the writer
      * owns the path again.
      */
    def awaitClearForWrite(dir: String): Unit = {
      states.synchronized {
        val deadlineNs = System.nanoTime() + 120L * 1000 * 1000 * 1000
        var done = false
        while (!done) {
          states.get(dir) match {
            case Some(st) if st.deleted =>
              states.remove(dir): Unit
              done = true
            case Some(st) if st.condemned || st.deleting =>
              val remMs = (deadlineNs - System.nanoTime()) / 1000000
              if (remMs <= 0) throw new IllegalStateException(
                s"timed out waiting for pending delete of index dir $dir")
              states.wait(remMs)
            case _ => done = true
          }
        }
      }
      // the writer supersedes whatever version the dir held
      ServingState.release(dir)
    }
  }

  /** Per-VERSION serving state: structures a search builds once over
    * an (index dir, corpus) pair and reuses across requests — the
    * graph family's cached node frame. A version's state is released
    * as soon as the version stops being servable, at the points the
    * lifecycle already owns: [[IndexRegistry.drop]], every
    * [[DirGuard.condemn]] (DELETE, a superseding re-POST, a
    * write-back swap) and [[DirGuard.awaitClearForWrite]] (a rebuild
    * into the same dir).
    *
    * Each slot counts the requests using it. A release RETIRES the
    * slot: it leaves the map at once, so the next request builds a
    * fresh one, but its value is released only when its last user
    * leaves — never under a running request, whose remaining rounds
    * would otherwise recompute the corpus-sized state from its
    * lineage. Concurrent first requests build once: the build
    * runs under the slot's build lock, and the building request counts
    * as a user, so a release racing a build retires a slot whose value
    * that request's own exit then releases.
    */
  object ServingState {
    trait Releasable { def release(): Unit }

    private final class Slot {
      val buildLock = new Object
      @volatile var value: Releasable = null
      var users = 0         // guarded by the slot's monitor
      var retired = false   // ditto; a retired slot is out of the map
    }
    private val slots =
      new java.util.concurrent.ConcurrentHashMap[(String, Any), Slot]()

    /** Run `body` against the state for (`dir`, `key`), building it
      * with `build` on first use. `key` may be a hash: `matches`
      * confirms a hit, and a state that fails it (a collision) is
      * served from a private slot released when `body` returns.
      */
    def withState[V <: Releasable, T](dir: String, key: Any)(
        matches: V => Boolean)(build: => V)(body: V => T): T = {
      val slot = acquire(dir, key)
      try {
        val v = valueOf[V](slot, build)
        if (matches(v)) body(v)
        else {
          val own = new Slot
          own.users = 1
          own.retired = true
          try body(valueOf[V](own, build)) finally leave(own)
        }
      } finally leave(slot)
    }

    /** Retire every slot of `dir`. Idempotent. */
    def release(dir: String): Unit =
      slots.entrySet().removeIf { e =>
        val hit = e.getKey._1 == dir
        if (hit) retire(e.getValue)
        hit
      }: Unit

    @scala.annotation.tailrec
    private def acquire(dir: String, key: Any): Slot = {
      val s = slots.computeIfAbsent((dir, key), _ => new Slot)
      val entered = s.synchronized {
        if (s.retired) false else { s.users += 1; true }
      }
      if (!entered) acquire(dir, key) // released meanwhile: start over
      else {
        // a dead version's in-flight reader may still search it, but
        // must not leave a state behind that no release will reach
        if (DirGuard.isDead(dir) && slots.remove((dir, key), s)) retire(s)
        s
      }
    }

    private def valueOf[V](s: Slot, build: => V): V =
      s.buildLock.synchronized {
        if (s.value == null) s.value = build.asInstanceOf[Releasable]
        s.value.asInstanceOf[V]
      }

    private def retire(s: Slot): Unit = {
      val idle = s.synchronized {
        s.retired = true
        s.users == 0
      }
      if (idle) drain(s)
    }

    private def leave(s: Slot): Unit = {
      val last = s.synchronized {
        s.users -= 1
        s.users == 0 && s.retired
      }
      if (last) drain(s)
    }

    private def drain(s: Slot): Unit = {
      val v = s.synchronized { val v = s.value; s.value = null; v }
      if (v != null) v.release()
    }
  }

  /** Recursive delete of a persisted index dir (local filesystem —
    * index spools live under the session spool / JVM tmpdir). The
    * `meta` subtree goes FIRST: meta-presence is the completeness
    * marker the open paths check, so a concurrent open during the
    * walk sees a clean "absent" instead of a corrupt half-index.
    */
  def deleteDirTree(dir: String): Unit = {
    import java.nio.file.Paths
    deleteTree(Paths.get(dir, "meta"))
    deleteTree(Paths.get(dir))
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach((p: Path) => Files.deleteIfExists(p): Unit)
      finally walk.close()
    }
  }

  /** Named handles for one index family, so a serving session opens
    * an index once and queries it by name thereafter (and the HTTP
    * layer can expose index CRUD without re-reading side tables per
    * request). `dirOf` projects a handle to its directory — the
    * definition identity the reuse and condemn logic keys on.
    *
    * ConcurrentHashMap, not TrieMap: `computeIfAbsent`/`compute` run
    * the build thunk atomically per key, so two concurrent first
    * requests for the same name can't race overlapping
    * mode-overwrite builds into one directory.
    */
  final class IndexRegistry[H <: AnyRef](dirOf: H => String) {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, H]()

    def register(name: String, handle: H): Unit = {
      registry.put(name, handle): Unit
    }
    def get(name: String): Option[H] = Option(registry.get(name))
    /** Unregister `name`; its files stay, its serving state goes. */
    def drop(name: String): Boolean = Option(registry.remove(name)) match {
      case Some(h) => ServingState.release(dirOf(h)); true
      case None => false
    }
    def list(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      registry.keys.asScala.toSeq.sorted
    }

    /** Registry-cached open-or-build: the first call per name runs
      * the thunk (build or open-persisted) and registers the handle;
      * later calls are a map lookup. Concurrent first calls
      * serialize on the key — one builds, the rest share the handle.
      */
    def openOrBuildCached(name: String)(build: => H): H =
      registry.computeIfAbsent(name, _ => build)

    /** [[drop]] that also deletes the persisted index directory —
      * the serving DELETE semantics. Deletion is DEFERRED while any
      * reader (entered via [[withReader]]) still holds the old
      * handle: the files are removed by the last reader's release,
      * never under a running job. New readers that arrive after the
      * drop are refused at acquire time.
      */
    def dropAndDelete(name: String): Boolean =
      Option(registry.remove(name)) match {
        case Some(h) => DirGuard.condemn(dirOf(h)); true
        case None => false
      }

    /** Run `body` (a search or append against `handle`'s files)
      * under the dir's reader count: a concurrent drop/rebuild
      * defers file deletion until this reader releases. Throws
      * [[IndexDroppedException]] if the dir was already condemned.
      */
    def withReader[T](handle: H)(body: => T): T =
      DirGuard.withReader(dirOf(handle))(body)

    /** Atomic open-or-rebuild: reuse the registered handle iff it
      * was built into the SAME dir (the dir encodes table, flavor,
      * params, and corpus fingerprint, so dir equality IS the full
      * definition check); otherwise rebuild inside the per-key
      * `compute` — two concurrent POSTs with different params for
      * one name serialize, and each response's handle matches its
      * own request body. The superseded definition's files are
      * CONDEMNED, not deleted inline: a search still holding the old
      * handle finishes against intact files and the last reader's
      * release reclaims them.
      */
    def openOrRebuildCached(name: String, dir: String)(build: => H): H =
      registry.compute(name, (_, old) =>
        if (old != null && dirOf(old) == dir) old
        else {
          if (old != null) DirGuard.condemn(dirOf(old))
          // a DROP of this same dir may still be deleting (e.g.
          // DELETE then an identical re-POST resolves to the same
          // path): let it finish before overwrite-writing into it
          DirGuard.awaitClearForWrite(dir)
          build
        })

    /** Atomically transform a REGISTERED handle (the serving door's
      * mutation move — e.g. a graph append that write-backs a new
      * version and swaps to it): `f` runs inside the registry's
      * per-key compute, so concurrent mutations of one name
      * serialize and each starts from the LATEST version (no lost
      * update), and a concurrent DELETE of the name waits its turn.
      * When `f` returns a handle in a NEW dir, the superseded dir is
      * condemned (deferred-deleted under the reader guard). Returns
      * None — with `f` never run — if the name is not registered.
      */
    def mutateExisting(name: String)(f: H => H): Option[H] =
      Option(registry.compute(name, (_, old) =>
        if (old == null) null.asInstanceOf[H]
        else {
          val next = f(old)
          if (dirOf(next) != dirOf(old)) DirGuard.condemn(dirOf(old))
          next
        }))

    /** [[openOrRebuildCached]] with an EXACT per-prefix cap on new
      * names. The count-and-admit runs under one lock with a
      * reservation set, so N concurrent first-POSTs of distinct new
      * names admit exactly `cap − current` of them — no
      * check-then-act window — while rebuild POSTs of existing names
      * always pass and builds themselves still run unserialized
      * outside the lock.
      */
    def openOrRebuildCachedBounded(
        name: String, dir: String, prefix: String, cap: Int)(
        build: => H): H = {
      val reservedHere = capLock.synchronized {
        if (registry.containsKey(name) || reserved.contains(name)) false
        else {
          import scala.jdk.CollectionConverters._
          val live = registry.keys.asScala.count(_.startsWith(prefix))
          val pending = reserved.count(_.startsWith(prefix))
          if (live + pending >= cap) throw new IndexCapExceededException(cap)
          reserved.add(name)
          true
        }
      }
      try openOrRebuildCached(name, dir)(build)
      finally if (reservedHere) capLock.synchronized {
        reserved.remove(name): Unit
      }
    }

    private val capLock = new Object
    private val reserved = scala.collection.mutable.HashSet[String]()
  }
}
