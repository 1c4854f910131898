package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

/** Cross-table CONSISTENT snapshot coordinator — the multi-table
  * transaction story a lakehouse needs the moment two tables must be
  * read together (fact + dim, table + its materialized views): each
  * group commit pins one version per member table, so a reader
  * resolving a group version sees a mutually-consistent set no matter
  * what later single-table commits exist.
  *
  * Design: the group log is its own metadata-only commit chain (one
  * tiny JSON per group version) using the SAME atomic publish primitive
  * as [[TxTable]] — hard-link create-if-absent locally, a conditional
  * PUT on object stores — so group commits serialize optimistically and
  * cost zero data I/O. Member tables stay plain TxTables; the group
  * only NAMES versions, it never owns data. This is the Delta
  * "commit coordinator" / Iceberg "catalog atomic swap" shape reduced
  * to its essence: consistency = agreeing on a vector of versions.
  *
  * Protocol: writers finish their member-table commits FIRST, then
  * publish the version vector. A reader therefore never resolves a
  * group version whose member versions don't exist yet; torn writes
  * (member committed, group publish lost) leave the group at the prior
  * consistent vector — readers simply don't see the new epoch until its
  * group commit lands.
  */
object SnapshotGroup {

  private def dir(root: String): Path = Paths.get(root, "_group")
  private def slot(root: String, v: Long): Path =
    dir(root).resolve(f"$v%020d.json")

  // member names must be plain identifiers, and a member literally named
  // "gv" would vanish in parse()'s header filter — reject both at publish
  // time rather than silently mis-reading later.
  private val memberName = "[A-Za-z0-9_-]+".r
  private def validateNames(members: Map[String, Long]): Unit =
    members.keys.foreach { t =>
      require(memberName.matches(t) && t != "gv",
        s"invalid group member name '$t' — must match [A-Za-z0-9_-]+ and not be 'gv'")
    }

  // {"gv":<v>,"<member>":<version>,...}, members sorted by name
  private def render(v: Long, members: Map[String, Long]): String = {
    val o = TxTable.mapper.createObjectNode().put("gv", v)
    members.toSeq.sortBy(_._1).foreach { case (t, tv) => o.put(t, tv) }
    TxTable.mapper.writeValueAsString(o)
  }

  private def parse(json: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    TxTable.mapper.readTree(json).properties().asScala
      .collect { case e if e.getKey != "gv" => e.getKey -> e.getValue.asLong }
      .toMap
  }

  /** Highest contiguous published group version (-1 if none). */
  def currentVersion(root: String): Long = {
    val d = dir(root)
    if (!Files.isDirectory(d)) return -1L
    import scala.jdk.CollectionConverters._
    val listing = Files.list(d)
    val present =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").toLong).toSet
      finally listing.close()
    var v = 0L
    while (present.contains(v)) v += 1
    v - 1
  }

  /** Publish the next group version with this member vector; optimistic —
    * retries the slot (12 attempts) until it wins. Returns the group
    * version. */
  def publish(root: String, members: Map[String, Long]): Long = {
    validateNames(members)
    Files.createDirectories(dir(root))
    (1 to 12).iterator.map(_ => currentVersion(root) + 1)
      .find(v => TxTable.publishOnce(slot(root, v), render(v, members)))
      .getOrElse(throw new IllegalStateException(
        s"group commit to $root failed after 12 attempts"))
  }

  /** The member version vector at group version `gv` (default: latest).
    * Only the Long.MaxValue default means "latest": an EXPLICIT gv above
    * the head is an error — silently clamping would hand a reader pinned
    * to a not-yet-published (or mistyped) epoch a different epoch's
    * vector. */
  def resolve(root: String, gv: Long = Long.MaxValue): Map[String, Long] = {
    val cur = currentVersion(root)
    require(cur >= 0, s"no group commits at $root")
    require(gv == Long.MaxValue || gv <= cur,
      s"group version $gv of $root not published yet (head is $cur)")
    val v = math.min(gv, cur)
    require(v >= 0 && Files.exists(slot(root, v)),
      s"group version $v of $root is unresolvable")
    try parse(Files.readString(slot(root, v)))
    catch { case NonFatal(e) =>
      throw new IllegalStateException(s"corrupt group commit $v at $root", e)
    }
  }
}
