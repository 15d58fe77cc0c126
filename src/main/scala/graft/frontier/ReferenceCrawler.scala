package graft.frontier

import scala.collection.mutable

/** Single-threaded in-memory reference implementation of the frontier
  * semantics — the comparator for "reproduces the crawl ordering and
  * URL-seen membership under the same seed list and politeness budget"
  * (BASELINE.json north rule). Deliberately the simplest possible
  * sequential program: exact HashSet seen, exact sort, exact budget.
  * The distributed engine must match it bit-for-bit. */
object ReferenceCrawler {

  final case class Entry(surtKey: String, url: String, host: String, priority: Int)
  final case class Wave(scheduled: Vector[(Entry, Int)], seen: Set[String]) // (entry, rank_in_host)

  private def canonEntry(url: String, priority: Int): Option[Entry] =
    graft.Functions.canonAllFn(url) match {
      case (c, s, h) if c != null && s != null && h != null => Some(Entry(s, c, h, priority))
      case _ => None
    }

  /** Replicates Frontier.runWave semantics sequentially. With a
    * `robots` map (host → robots.txt body) it mirrors the engine's
    * REAL-robots path — the SAME public parse/group/match functions
    * (`Robots.parse`/`groupFor`/`isAllowed`) applied sequentially, and
    * the crawl-delay budget shrink k_eff = min(budget, max(1,
    * floor(waveWindowSec / delay))) — so group merging, longest-match
    * precedence and delay pacing all have a sequential comparator, not
    * only the synthetic hash rule. */
  final class Sim(cfg: FrontierConfig, robots: Map[String, String] = Map.empty) {
    private val seen = mutable.HashSet.empty[String]
    private var pending = mutable.Map.empty[String, Entry] // surt → best entry
    // parse ONCE per host, as the engine's checkpointed parse does
    private val parsed: Map[String, (Seq[Robots.Rule], Option[Double])] =
      robots.map { case (h, txt) =>
        val g = Robots.groupFor(Robots.parse(txt), cfg.agent)
        (h, (g.map(_.rules).getOrElse(Seq.empty), g.flatMap(_.crawlDelay)))
      }
    private def pathOf(url: String): String =
      url.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "") match {
        case "" => "/"
        case p  => p
      }
    private def allowedBy(e: Entry): Boolean =
      if (robots.nonEmpty)
        parsed.get(e.host).forall { case (rules, _) =>
          Robots.isAllowed(rules, pathOf(e.url)) }
      else
        !(java.lang.Math.floorMod(SeenFilter.hashKey(e.host), 5L) == 0L &&
          e.url.contains("/private"))
    private def kEff(host: String): Int =
      if (robots.isEmpty) cfg.hostBudget
      else parsed.get(host).flatMap(_._2) match {
        case Some(d) => math.min(cfg.hostBudget,
          math.max(1, math.floor(cfg.waveWindowSec / d).toInt))
        case None => cfg.hostBudget
      }

    def initialize(seedUrls: Seq[(String, Int)]): Unit = {
      for ((u, p) <- seedUrls; e <- canonEntry(u, p)) {
        pending.get(e.surtKey) match {
          case Some(prev) =>
            // deterministic min-merge as the engine's groupBy(min) does
            pending(e.surtKey) = Entry(e.surtKey,
              Seq(prev.url, e.url).min, Seq(prev.host, e.host).min,
              math.min(prev.priority, e.priority))
          case None => pending(e.surtKey) = e
        }
        seen += e.surtKey
      }
    }

    def seenSet: Set[String] = seen.toSet

    def runWave(): Vector[(Entry, Int)] = {
      // robots filter (synthetic rule, or the parsed real-robots gate)
      val allowed = pending.values.filter(allowedBy).toVector
      // per-host top-k_eff by (priority, surt) — k_eff shrinks under a
      // robots crawl-delay exactly as the engine's withKeff does
      val scheduled = allowed.groupBy(_.host).toVector.flatMap { case (h, es) =>
        es.sortBy(e => (e.priority, e.surtKey)).take(kEff(h)).zipWithIndex
          .map { case (e, i) => (e, i + 1) }
      }
      // discovery + dedup + state update
      val schedKeys = scheduled.map(_._1.surtKey).toSet
      pending = pending.filterNot { case (k, _) => schedKeys.contains(k) }
      for ((e, _) <- scheduled; (url, pri) <- outlinks(e.surtKey, cfg)) {
        canonEntry(url, pri).foreach { oe =>
          if (!seen.contains(oe.surtKey)) {
            // in-batch dedup with min-merge, then admit to seen
            pending.get(oe.surtKey) match {
              case Some(prev) =>
                pending(oe.surtKey) = Entry(oe.surtKey,
                  Seq(prev.url, oe.url).min, Seq(prev.host, oe.host).min,
                  math.min(prev.priority, oe.priority))
              case None => pending(oe.surtKey) = oe
            }
          }
        }
      }
      // everything admitted this wave becomes seen
      pending.keys.foreach(seen.add)
      scheduled.sortBy { case (e, _) => (e.priority, e.host, e.surtKey) }
    }
  }

  /** THE deterministic outlink generator — the engine's discovery UDF
    * calls this very function (Frontier.discoverOutlinks), so parity
    * can never drift on generator details.
    *  - "zipf" (default): crawl-like skew — cube of uniform
    *    concentrates hosts on low ids, priorities uniform in [0,100).
    *  - "adversarial": a tiny host set emitting ALWAYS-BEST priorities
    *    (0–2) — every discovered row beats any realistic fence and
    *    routes to the head, the overgrowth shape the per-host re-cut
    *    exists for.
    *  - "pulse": most URLs emit ONE poor-priority link (hosts drain
    *    and REFILL between bursts), ~a quarter emit a burst of
    *    always-best links — refill-then-flood within one epoch, the
    *    shape that forces the EPOCH-BUMP re-cut path (the cheap
    *    fence-lowering is unsafe once a refill planted copies). */
  def outlinks(surt: String, cfg: FrontierConfig): Seq[(String, Int)] = {
    val h0 = SeenFilter.hashKey(surt + ":" + cfg.seed)
    val n = if (cfg.outlinkMode == "pulse") {
      if (java.lang.Math.floorMod(h0, 4L) == 0L) 12 * cfg.outlinksPerUrl else 1
    } else cfg.outlinksPerUrl
    (0 until n).map { i =>
      val h = SeenFilter.hashKey(surt + "#" + i)
      val path = java.lang.Math.floorMod(h ^ h0, 100000L)
      val priv = if (java.lang.Math.floorMod(h, 7L) == 0L) "/private" else ""
      if (cfg.outlinkMode == "pulse") {
        val hostId = java.lang.Math.floorMod(h, math.min(3, cfg.hostPool).toLong)
        val pri = if (n == 1) 90 + java.lang.Math.floorMod(h, 10L).toInt
                  else java.lang.Math.floorMod(h, 3L).toInt
        (s"https://www.host$hostId.example.org$priv/p/$path?x=1", pri)
      } else if (cfg.outlinkMode == "adversarial") {
        val hostId = java.lang.Math.floorMod(h, math.min(5, cfg.hostPool).toLong)
        (s"https://www.host$hostId.example.org$priv/p/$path?x=1",
          java.lang.Math.floorMod(h, 3L).toInt)
      } else {
        val u = (java.lang.Math.floorMod(h, 1000000L)) / 1000000.0
        val hostId = (cfg.hostPool * u * u * u).toInt
        (s"https://www.host$hostId.example.org$priv/p/$path?x=1",
          java.lang.Math.floorMod(h, 100L).toInt)
      }
    }
  }
}
