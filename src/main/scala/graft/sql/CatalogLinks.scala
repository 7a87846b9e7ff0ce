package graft.sql

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Path, Paths}

import graft.table.CommitIO

/**
 * Catalog-level name→directory indirection (r17 review #6 — the
 * object-store `ALTER TABLE RENAME TO`): on an object store a directory
 * move is a copy+delete whose crash window materializes exactly the
 * dual-root state the E214 heal marker refuses as ambiguous, so the
 * metadata rename NEVER moves the data — it rebinds the NAME in a
 * per-namespace links map.
 *
 * Commit protocol: the map is a chain of versioned whole-map files
 * (`_catalog_links/v<N>.json`) and the CLAIM IS THE COMMIT — one
 * `putIfAbsent` of `v(N+1)` makes the new map live atomically (the map
 * version is the LARGEST `v<K>` present — claims only ever target
 * live+1, so the top of the chain can never gap; there is NO mutable
 * pointer object). Consequences, all by construction:
 *
 *  - concurrent mutations serialize through the conditional PUT — the
 *    loser's claim conflicts, it re-reads and re-decides against the
 *    winner's map;
 *  - a crash can only land BEFORE the claim (nothing happened — the old
 *    binding is fully live) or AFTER it (the rename is fully applied);
 *    there is no half-state to heal, no roll-forward, and no pointer
 *    that a stale writer could regress (the r18 review killed the
 *    earlier HEAD-pointer variant for exactly that race);
 *  - readers route through the same [[CommitIO]] the commits use, so a
 *    store-backed io observes its own renames.
 *
 * Resolution is ONE `list` of the links prefix (r19 — previously an
 * O(#renames-ever) exists-probe chain) + one read of the max version;
 * the common never-renamed namespace pays exactly the one empty list.
 * Old chain versions retire under a keep-last-N sweep after each commit
 * (r18 review missing #6): deletes only ever remove a PREFIX of the
 * chain, so the max-version liveness rule survives concurrent sweeps,
 * and a reader that listed an about-to-retire version transparently
 * re-lists. Renames are operator actions (a handful per table
 * lifetime), not a data path.
 *
 * The map entry value is the PHYSICAL directory name inside the same
 * namespace (`Some(dir)`) or a tombstone (`None` — the name no longer
 * resolves even though a directory with that name still exists: the
 * renamed table's data stays where it was written). Consequences a
 * deployment must know: the data directory permanently keeps its
 * original name, and a renamed-away name cannot host a NEW table or view
 * while the physical directory still occupies it (loud create-time
 * error; dropping the renamed table frees it — [[clearTombstone]] lifts
 * the hide on the next CREATE).
 */
object CatalogLinks {

  private val Dir = "_catalog_links"

  sealed trait Resolution
  /** The name is bound to a (possibly different) physical dir. */
  final case class Linked(physical: String) extends Resolution
  /** The name was renamed away: it must not resolve. */
  case object Tombstoned extends Resolution
  /** No entry: the name resolves to its own directory (the default). */
  case object Unlinked extends Resolution

  final case class Links(version: Long, entries: Map[String, Option[String]])

  private def linksDir(nsDir: String): Path = Paths.get(nsDir, Dir)
  private def vPath(nsDir: String, v: Long): Path =
    linksDir(nsDir).resolve(s"v$v.json")

  /** The live map = the MAX version present (one prefix list + one read).
    * A read racing the keep-last-N sweep (its listed head retired by a
    * much-later commit's GC) re-lists — bounded: each retry means ≥
    * [[KeepVersions]] commits landed since the list. */
  def read(nsDir: String, io: CommitIO): Links = {
    var attempts = 0
    while (true) {
      val vs = io.versions(linksDir(nsDir))
      if (vs.isEmpty) return Links(0L, Map.empty)
      val v = vs.last
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = om.readTree(io.read(vPath(nsDir, v)))
        val entries = scala.collection.mutable.Map.empty[String, Option[String]]
        node.fields().forEachRemaining { e =>
          entries.put(e.getKey,
            if (e.getValue.isNull) None else Some(e.getValue.asText()))
        }
        return Links(v, entries.toMap)
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          attempts += 1
          if (attempts > 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def resolve(nsDir: String, name: String, io: CommitIO): Resolution =
    read(nsDir, io).entries.get(name) match {
      case Some(Some(phys)) => Linked(phys)
      case Some(None) => Tombstoned
      case None => Unlinked
    }

  private def serialize(entries: Map[String, Option[String]]): Array[Byte] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    entries.toSeq.sortBy(_._1).foreach {
      case (k, Some(v)) => node.put(k, v)
      case (k, None) => node.putNull(k)
    }
    om.writeValueAsBytes(node)
  }

  /** One CAS attempt: claim `v(cur+1)` — the claim IS the commit. Parent
    * preparation is the io's job (CommitIO contract: putIfAbsent accepts
    * keys with no existing parent — an object store has no directories),
    * so this path stays fully store-expressible (r18 advice). */
  private def tryCommit(nsDir: String, cur: Links,
      entries: Map[String, Option[String]], io: CommitIO): Boolean = {
    try { io.putIfAbsent(vPath(nsDir, cur.version + 1), serialize(entries)); true }
    catch { case _: FileAlreadyExistsException => false }
  }

  /** Keep-last-N for the version chain (r18 review missing #6 — every
    * rename added a whole-map file forever). Runs after each successful
    * commit; deletes only a PREFIX (versions ≤ committed − N), so
    * concurrent sweeps are idempotent and max-version liveness holds
    * throughout. N is deliberately generous: a retired version is ≥ N
    * commits stale, and [[read]] retries the rare list/GC race. */
  private val KeepVersions = 8L

  private def gc(nsDir: String, committed: Long, io: CommitIO): Unit =
    io.versions(linksDir(nsDir)).filter(_ <= committed - KeepVersions)
      .foreach { v =>
        try io.delete(vPath(nsDir, v))
        catch { case scala.util.control.NonFatal(_) => () }
      }

  private def retrying(nsDir: String, io: CommitIO)(
      step: Links => Option[Map[String, Option[String]]]): Unit = {
    var attempts = 0
    while (true) {
      val cur = read(nsDir, io)
      step(cur) match {
        case None => return // nothing to change under the freshest map
        case Some(entries) =>
          if (tryCommit(nsDir, cur, entries, io)) {
            gc(nsDir, cur.version + 1, io)
            return
          }
          attempts += 1
          if (attempts > 20) throw new IllegalStateException(
            s"catalog links commit lost $attempts straight races under $nsDir")
      }
    }
  }

  /** Rebind `oldName` → `newName` in one links commit. The caller has
    * already validated existence/absence at the catalog level; this
    * re-checks against the freshest map inside the retry loop so a
    * concurrent rename cannot double-bind a name. */
  def rename(nsDir: String, oldName: String, newName: String,
      io: CommitIO): Unit =
    retrying(nsDir, io) { cur =>
      val phys = cur.entries.get(oldName) match {
        case Some(Some(p)) => p
        case Some(None) => throw new IllegalStateException(
          s"rename source '$oldName' no longer resolves (renamed concurrently)")
        case None => oldName
      }
      if (cur.entries.get(newName).exists(_.isDefined))
        throw new IllegalStateException(
          s"rename target '$newName' is already bound (renamed concurrently)")
      // normalization: a rename BACK to the physical name needs no link at
      // all — the name resolves to its own directory again (no permanent
      // self-link entry to carry)
      val withOld = cur.entries + (oldName -> None)
      Some(if (phys == newName) withOld - newName
           else withOld + (newName -> Some(phys)))
    }

  /** Remove `name`'s binding (table dropped through a linked name). */
  def unlink(nsDir: String, name: String, io: CommitIO): Unit =
    unlinkAll(nsDir, Seq(name), io)

  /** Remove several bindings in ONE commit — the drop path retires both
    * the dropped link AND the tombstone over its physical directory
    * atomically, so no crash ordering can leave a name wedged behind a
    * stale entry (r18 review pass 2). */
  def unlinkAll(nsDir: String, names: Seq[String], io: CommitIO): Unit =
    retrying(nsDir, io) { cur =>
      if (names.exists(cur.entries.contains)) Some(cur.entries -- names)
      else None
    }

  /** Lift a tombstone so a NEW table can be created under a previously
    * renamed-away name once its directory is free. */
  def clearTombstone(nsDir: String, name: String, io: CommitIO): Unit =
    retrying(nsDir, io) { cur =>
      if (cur.entries.get(name).contains(None)) Some(cur.entries - name)
      else None
    }
}
