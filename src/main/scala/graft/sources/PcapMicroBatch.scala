package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.util.SerializableConfiguration

/** Micro-batch streaming over one or more landing directories of pcap
  * files (SURVEY §2.5's optional extension): each trigger processes the
  * files that appeared since the last committed offset.
  *
  * The offset is a `(fileCount, lastName)` watermark PER ROOT (round 9 —
  * previously single-root only): each element of `paths` is its OWN
  * sorted namespace with its own watermark, carried together in one
  * composite offset. A batch is, per root, the SORTED-NAME range
  * `(start.lastName, end.lastName]`, NOT a positional slice of a
  * re-evaluated listing: a position shifts whenever a file arrives (or
  * disappears) out of lexicographic order, silently double-reading one
  * file and never reading another, and makes a replayed batch read
  * different files than its original attempt. The name range is stable
  * under growth; the recorded count cross-checks it. Per-root watermarks
  * mean a union of capture directories streams natively — files from
  * different roots never interleave in one namespace, so each root only
  * has to honor the landing contract LOCALLY: files appear by atomic
  * rename, with names that sort after everything already present in THAT
  * root (the standard timestamped-rotation pattern, e.g. `tcpdump -G`).
  * A root ADDED to `paths` across a restart starts fresh at (0, "");
  * removing a root that the checkpoint still tracks refuses loudly (its
  * accounting would be silently dropped).
  *
  * Landing-contract enforcement (ADVICE r8): a file arriving BELOW a
  * root's processed watermark would never be read — that is data loss
  * and always refuses. A file MISSING below the watermark is the normal
  * retention pattern (already-processed captures cleaned up, exactly
  * what Spark's own file source tolerates) — logged as a warning by
  * default; `strictLanding=true` restores the exact census refusal for
  * landings that guarantee immutability. Note the inherent blind spot of
  * lenient mode: one deletion plus one out-of-order arrival below the
  * same watermark cancel in the count census — strict mode exists for
  * landings that need that caught.
  *
  * Implements [[SupportsTriggerAvailableNow]] (round-7, VERDICT r6 #5):
  * without it, `Trigger.AvailableNow` falls back to a SINGLE batch of
  * everything — which weakens the processing guarantee on restart (an
  * uncommitted giant batch replays in full, and admission control is
  * ignored). With it, `prepareForTriggerAvailableNow` pins a per-root
  * fence at query start and every batch advances toward that fence under
  * the declared read limit (`maxFilesPerTrigger` option), exactly like
  * Spark's own file source.
  */
final class PcapMicroBatchStream(
    paths: Seq[String],
    required: org.apache.spark.sql.types.StructType,
    refCompat: Boolean,
    checkpointLocation: String,
    maxFilesPerTrigger: Option[Int] = None,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    strictLanding: Boolean = false,
    retiredRoots: Seq[String] = Seq.empty,
    /** Byte-range shards per admitted file ([[PcapShardPlan]]): splits
      * each file's framing and dissection across N reader tasks WITHIN
      * its planned batch. Pure execution parallelism — offsets,
      * watermarks, and admission stay per-file. A replay may cut a
      * file differently than its original attempt did (another
      * `decodePartitions` after a restart), which is safe — the
      * committed offset fixes the file set, every cut reads exactly the
      * file's frame multiset (spec-pinned), and the file sink commits
      * whole batches. */
    decodePartitions: Int = 1)
    extends MicroBatchStream with SupportsTriggerAvailableNow with Logging {

  require(paths.nonEmpty, "pcap streaming needs at least one landing root")
  // duplicate roots would double-read every file (two watermarks cannot
  // share one namespace key)
  require(paths.distinct.size == paths.size,
    s"pcap streaming roots must be distinct, got: ${paths.mkString(", ")}")
  // ROOT RETIREMENT (round 9, closing-outlook #4): dropping a tracked
  // root still refuses by default (its watermark would be silently
  // forgotten), but a root listed in `retiredRoots` is an EXPLICIT
  // acknowledgment — it is no longer listed or read, while its
  // checkpointed watermark rides FROZEN through every emitted offset.
  // Re-activating later (move it back to paths, off the retired list)
  // resumes exactly-once from the frozen mark. Retirement is otherwise
  // PERMANENT configuration: dropping a root from retiredRoots without
  // re-activating refuses (its frozen mark is still in the checkpoint);
  // the cost of keeping it listed is one frozen offset entry.
  require(retiredRoots.intersect(paths).isEmpty,
    s"pcap streaming: roots cannot be both active and retired: " +
      s"${retiredRoots.intersect(paths).mkString(", ")}")

  private val spark = org.apache.spark.sql.SparkSession.active
  private val hconf = spark.sessionState.newHadoopConf()
  // broadcast once per stream: every batch's tasks share it
  private lazy val confB =
    spark.sparkContext.broadcast(new SerializableConfiguration(hconf))

  /** AvailableNow fence per root: files sorting after a root's fence
    * (they arrived after the query started) are left for the NEXT run.
    */
  @volatile private var availableNowFence: Option[Map[String, String]] = None

  // one listing per trigger, not one per callback: latestOffset,
  // reportLatestOffset, and planInputPartitions all need the file sets
  @volatile private var cachedListing: Map[String, Seq[String]] = _

  private def listFiles(refresh: Boolean): Map[String, Seq[String]] = {
    if (refresh || cachedListing == null)
      cachedListing = paths.map(r => r -> PcapFileEnum.list(Seq(r), hconf)).toMap
    cachedListing
  }

  /** A checkpointed offset's mark for `root`, migrated and completed:
    *  - a root the checkpoint doesn't know (added to `paths` across a
    *    restart) starts fresh at (0, "");
    *  - a pre-name-range mark (count only — the pre-round-7 positional
    *    semantics, necessarily single-root) anchors its name to the
    *    current listing ONCE at migration;
    *  - a root the checkpoint tracks but `paths` dropped refuses in
    *    [[resolve]] — silently forgetting its watermark would re-read
    *    everything if the root ever came back.
    */
  private def resolve(o: PcapOffset,
      listing: Map[String, Seq[String]]): Map[String, PcapRootMark] = {
    val unknown = o.roots.keySet -- paths.toSet -- retiredRoots.toSet
    require(unknown.isEmpty,
      s"pcap stream: checkpoint tracks roots not in this query's paths: " +
        s"${unknown.mkString(", ")} — removing a root drops its watermark; " +
        "restore the path, list it in retiredRoots to acknowledge, or " +
        "start a fresh checkpoint")
    paths.map { r =>
      val m = o.roots.getOrElse(r, PcapRootMark(0, ""))
      r -> (if (m.lastName.nonEmpty || m.fileCount == 0) m
      else {
        val rl = listing(r)
        require(rl.size >= m.fileCount,
          s"pcap stream: legacy offset ${m.fileCount} exceeds the ${rl.size}-file " +
            s"listing of $r — files were deleted from the landing")
        PcapRootMark(m.fileCount, rl(m.fileCount - 1))
      })
    }.toMap
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    val listing = listFiles(refresh = true)
    availableNowFence =
      Some(paths.map(r => r -> listing(r).lastOption.getOrElse("")).toMap)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  // throttle the retention-deletion warning: once per OBSERVED census
  // change per root, not once per trigger (a ProcessingTime stream would
  // otherwise repeat it forever after one acknowledged deletion)
  private val warnedDeleted = scala.collection.mutable.Map.empty[String, Int]
  // rotates the fair-share remainder's starting root across triggers so
  // no root is systematically last in line
  private var triggerSeq = 0L

  /** Admission-controlled batch end: everything available (capped by the
    * AvailableNow fence when set), bounded by the read limit from start.
    * The file budget is FAIR-SHARED across roots with pending files —
    * an equal split first, then the remainder one root at a time from a
    * rotating start — so a busy root can delay the others by at most
    * its share, never starve them (budget spent strictly in `paths`
    * order would give a root that lands >= budget files per trigger
    * every slot forever).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val listing = listFiles(refresh = true)
    val s = resolve(start.asInstanceOf[PcapOffset], listing)
    val budget = limit match {
      case mf: ReadMaxFiles => mf.maxFiles()
      case _ => Int.MaxValue
    }
    // pass 1: census checks + pending candidates per root
    val candidates: Map[String, Seq[String]] = paths.map { r =>
      val rl = listing(r)
      val m = s(r)
      // census of the processed range: MORE files than were counted
      // means one arrived OUT OF ORDER (sorting below names already
      // processed — it would be silently skipped forever): always
      // refuse. FEWER means an already-processed file was deleted —
      // ordinary landing retention, tolerated like Spark's file source
      // unless strictLanding pins immutability (ADVICE r8).
      val below = rl.count(_ <= m.lastName)
      require(below <= m.fileCount,
        s"pcap stream: $below files at or below the processed watermark " +
          s"'${m.lastName}' of $r but ${m.fileCount} were processed — a file " +
          "arrived out of lexicographic order and would never be read; the " +
          "landing must add files by atomic rename with monotonically " +
          "sorting names")
      if (below < m.fileCount) {
        require(!strictLanding,
          s"pcap stream: only $below of the ${m.fileCount} processed files " +
            s"remain at or below watermark '${m.lastName}' of $r and " +
            "strictLanding=true pins the landing immutable")
        val missing = m.fileCount - below
        if (!warnedDeleted.get(r).contains(missing)) {
          warnedDeleted(r) = missing
          logWarning(s"pcap stream: $missing processed files " +
            s"below watermark '${m.lastName}' of $r were deleted (landing " +
            "retention); continuing")
        }
      } else warnedDeleted.remove(r)
      val unfenced = rl.filter(_ > m.lastName)
      r -> (availableNowFence match {
        case Some(f) => unfenced.filter(_ <= f(r))
        case None => unfenced
      })
    }.toMap
    // pass 2: fair-share the budget — equal split across pending roots,
    // then the remainder one at a time starting from a rotating root
    val takes = scala.collection.mutable.Map.empty[String, Int]
    val pendingTotal = candidates.valuesIterator.map(_.size.toLong).sum
    if (budget == Int.MaxValue || pendingTotal <= budget) {
      paths.foreach(r => takes(r) = candidates(r).size)
    } else {
      var left = budget
      val pending = paths.filter(r => candidates(r).nonEmpty)
      // floor split (0 when budget < pending roots — the rotating
      // remainder below then decides who gets the scarce slots, so a
      // root earlier in `paths` has no standing advantage)
      val fair = left / math.max(1, pending.size)
      pending.foreach { r =>
        val t = math.min(math.min(fair, candidates(r).size), left)
        takes(r) = t; left -= t
      }
      val k = (triggerSeq % math.max(1, pending.size)).toInt
      val rotated = pending.drop(k) ++ pending.take(k)
      var progressed = true
      while (left > 0 && progressed) {
        progressed = false
        rotated.foreach { r =>
          if (left > 0 && takes(r) < candidates(r).size) {
            takes(r) += 1; left -= 1; progressed = true
          }
        }
      }
    }
    triggerSeq += 1
    PcapOffset(paths.map { r =>
      val m = s(r)
      val take = takes.getOrElse(r, 0)
      r -> (if (take == 0) m
      else PcapRootMark(m.fileCount + take, candidates(r)(take - 1)))
    }.toMap ++ frozenRetired(start.asInstanceOf[PcapOffset]))
  }

  /** Retired roots' checkpointed watermarks, carried verbatim through
    * every emitted offset so a later re-activation resumes exactly-once.
    * Also remembered for [[reportLatestOffset]], which has no start
    * offset of its own — progress reporting must show the same root set
    * committed offsets carry.
    */
  private def frozenRetired(o: PcapOffset): Map[String, PcapRootMark] = {
    val f = o.roots.filter { case (r, _) => retiredRoots.contains(r) }
    lastFrozen = f
    f
  }
  @volatile private var lastFrozen: Map[String, PcapRootMark] = Map.empty

  override def reportLatestOffset(): Offset = {
    val listing = listFiles(refresh = false)
    PcapOffset(paths.map { r =>
      r -> PcapRootMark(listing(r).size, listing(r).lastOption.getOrElse(""))
    }.toMap ++ lastFrozen)
  }

  // a SupportsAdmissionControl source is always asked through
  // latestOffset(start, limit); the legacy form must never be called
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "PcapMicroBatchStream uses latestOffset(Offset, ReadLimit)")

  override def initialOffset(): Offset =
    PcapOffset(paths.map(r => r -> PcapRootMark(0, "")).toMap)

  override def deserializeOffset(json: String): Offset =
    PcapOffset.fromJson(json, paths, retiredRoots)

  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val listing = listFiles(refresh = false)
    val s = resolve(start.asInstanceOf[PcapOffset], listing)
    val e = resolve(end.asInstanceOf[PcapOffset], listing)
    val files = paths.flatMap { r =>
      val (sm, em) = (s(r), e(r))
      val files = listing(r).filter(n => n > sm.lastName && n <= em.lastName)
      // the count pins the committed range's content: a mismatch means a
      // file inside it was deleted or arrived late (non-monotonic name) —
      // re-slicing would silently duplicate or lose files, so refuse.
      // (Retention tolerance never reaches here: it only concerns files
      // BELOW the start watermark, outside every planned range.)
      require(files.size == em.fileCount - sm.fileCount,
        s"pcap stream: committed batch (${sm.lastName}, ${em.lastName}] of $r " +
          s"recorded ${em.fileCount - sm.fileCount} files but the landing now " +
          s"resolves it to ${files.size} — the atomic-rename/monotonic-name " +
          "landing contract was violated; refusing to replay a different " +
          "batch than was committed")
      files
    }
    PcapShardPlan.cut(files, decodePartitions, refCompat, hconf)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PcapReaderFactory(confB, required, refCompat, filters)

  override def stop(): Unit = ()
}

final case class PcapRootMark(fileCount: Int, lastName: String)

/** Composite per-root offset, serialized as a JSON object keyed by
  * root (Jackson — a root path may contain any character). EVERY fresh
  * offset carries root identity, single-root included (round 10, ADVICE
  * r9): the legacy `count\tlastName` wire form, which a single-root
  * stream used to keep writing, could never gain a second root — its
  * mark is attributable to no root, so `fromJson` refuses it under a
  * multi-root `paths`, contradicting the documented "a root added
  * across a restart starts fresh". Legacy forms still PARSE (existing
  * single-root checkpoints replay unchanged and upgrade to the keyed
  * form on their next commit); only writing them stopped.
  */
final case class PcapOffset(roots: Map[String, PcapRootMark]) extends Offset {
  override def json(): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    roots.toSeq.sortBy(_._1).foreach { case (r, m) =>
      val o = node.putObject(r)
      o.put("n", m.fileCount)
      o.put("last", m.lastName)
      ()
    }
    om.writeValueAsString(node)
  }
}

object PcapOffset {
  /** Single-root convenience (tests, legacy call sites). */
  def apply(root: String, fileCount: Int, lastName: String): PcapOffset =
    PcapOffset(Map(root -> PcapRootMark(fileCount, lastName)))

  def fromJson(json: String, paths: Seq[String],
      retiredRoots: Seq[String] = Seq.empty): PcapOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(t)
      require(node.isObject, s"unreadable pcap stream offset: $t")
      val b = Map.newBuilder[String, PcapRootMark]
      node.properties().forEach { e =>
        val v = e.getValue
        require(v.has("n") && v.has("last"),
          s"unreadable pcap stream offset entry for ${e.getKey}: $v")
        b += e.getKey -> PcapRootMark(v.get("n").asInt(), v.get("last").asText())
      }
      PcapOffset(b.result())
    } else {
      // legacy single-root forms: `count` (positional, pre-round-7) or
      // `count\tlastName`; necessarily written by a single-root stream.
      // They carry NO root identity, so they cannot be resolved against
      // a retiredRoots configuration — attributing the mark to the new
      // active root would silently skip its files AND lose the retired
      // root's watermark (the exact double failure retirement exists to
      // prevent). Root-keyed (JSON) offsets are unaffected.
      require(retiredRoots.isEmpty,
        s"pcap stream: the checkpoint offset '$t' is a legacy single-root " +
          "form with no root identity and cannot be resolved against " +
          "retiredRoots — keep the original paths, or start a fresh " +
          "checkpoint for the new configuration")
      require(paths.size == 1,
        s"pcap stream: single-root checkpoint offset '$t' under a " +
          s"${paths.size}-root query — the checkpoint belongs to a " +
          "different path configuration")
      t.split("\t", -1) match {
        case Array(n) => PcapOffset(paths.head, n.toInt, "")
        case Array(n, name) => PcapOffset(paths.head, n.toInt, name)
        case other => throw new IllegalStateException(
          s"unreadable pcap stream offset: ${other.mkString("\\t")}")
      }
    }
  }
}
