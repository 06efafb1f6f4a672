package streambench

import scala.collection.mutable

/** Seeded Atlas audit-event generator. The chain under test sees only the
  * JSON strings produced here; the generator keeps its own model of every
  * entity so each event carries the entity's full state (attributes plus
  * all current relationships), the way Atlas emits it.
  *
  * Timestamps come from one logical clock, so every (guid, updateTime) is
  * unique and per-guid versions arrive in order. Injected faults use guids
  * that never carry a valid event, so they cannot change any document. */
final class Gen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var clock = 1000000L
  private var ghosts = 0

  final class Ent(val guid: String, val typeName: String, var name: String) {
    val attrs = mutable.LinkedHashMap[String, String]()
    val rels = mutable.LinkedHashMap[String, Vector[Ent]]()
    var created = false
  }

  /** Counts of injected faults by (job, description), as the DLQ reports
    * them. */
  val faults = mutable.Map[(String, String), Long]().withDefaultValue(0L)
  var validEvents = 0L

  def uniform(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p

  private def tick(): Long = { clock += 1; clock }

  private def relJson(rels: Iterable[(String, Vector[Ent])]): String =
    rels.map { case (k, refs) =>
      refs.map(r =>
        s"""{"guid":"${r.guid}","typeName":"${r.typeName}","entityStatus":"ACTIVE"}""")
        .mkString(s""""$k":[""", ",", "]")
    }.mkString("{", ",", "}")

  private def attrJson(attrs: Iterable[(String, String)]): String =
    attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  private def envelope(op: String, guid: String, t: Long,
      entity: String): String =
    s"""{"kafkaNotification":{"eventTime":$t,"operationType":"$op","guid":"$guid"},"atlasEntity":$entity}"""

  /** The entity's full state as one audit event. `direct = false` models an
    * Atlas-propagated audit: no relationshipAttributes payload. */
  def event(e: Ent, direct: Boolean = true): String = {
    val op = if (e.created) "ENTITY_UPDATE" else "ENTITY_CREATE"
    e.created = true
    val t = tick()
    val attrs = Seq("qualifiedName" -> s"qn/${e.guid}", "name" -> e.name) ++
      e.attrs
    val rel = if (direct) s""","relationshipAttributes":${relJson(e.rels)}""" else ""
    validEvents += 1
    envelope(op, e.guid, t,
      s"""{"guid":"${e.guid}","typeName":"${e.typeName}","attributes":${attrJson(attrs)}$rel,"createTime":1,"updateTime":$t}""")
  }

  private def fault(job: String, description: String, json: String)
      : String = {
    faults((job, description)) += 1
    json
  }

  /** One injected fault, rotating over every DLQ route of the chain. */
  def faultEvent(): String = {
    ghosts += 1
    val g = s"ghost$ghosts"
    val t = tick()
    ghosts % 5 match {
      case 0 => fault("pipeline", "missing kafka_notification or atlas_entity",
        s"""{"kafkaNotification":{"eventTime":$t,"operationType":"ENTITY_UPD""")
      case 1 => fault("publish_state", "missing entity guid",
        envelope("ENTITY_UPDATE", g, t,
          s"""{"typeName":"m4i_dataset","attributes":{"name":"x"},"relationshipAttributes":{},"createTime":1,"updateTime":$t}"""))
      case 2 => fault("publish_state", "missing updateTime",
        envelope("ENTITY_UPDATE", g, t,
          s"""{"guid":"$g","typeName":"m4i_dataset","attributes":{"name":"x"},"relationshipAttributes":{},"createTime":1}"""))
      case 3 => fault("determine_change", "unknown operationType",
        envelope("ENTITY_AUDIT", g, t,
          s"""{"guid":"$g","typeName":"m4i_dataset","attributes":{"qualifiedName":"qn/$g"},"relationshipAttributes":{},"createTime":1,"updateTime":$t}"""))
      case _ => fault("synchronize_elastic", "create without qualifiedName",
        envelope("ENTITY_CREATE", g, t,
          s"""{"guid":"$g","typeName":"m4i_dataset","attributes":{"name":"x"},"relationshipAttributes":{},"createTime":1,"updateTime":$t}"""))
    }
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** One workload: an initial history (store pre-seeding, part of set-up;
  * may be empty), then an unbounded, deterministic sequence of batches.
  * The history, or the first batch when there is none, bootstraps the
  * store as batch 0; the next batch is the warm-up batch; the timed
  * batches follow. */
trait Workload {
  def name: String
  def params: Seq[(String, Any)]
  def gen: Gen
  def history(): Vector[String]
  def nextBatch(): Vector[String]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "steady_mix" => new SteadyMix(seed)
    case "steady_mix_unordered" => new SteadyMix(seed, parentsFirst = false)
    case "long_history" => new LongHistory(seed)
    case "deep_cascade" => new DeepCascade(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Timed batches per second of `--seconds`, about one per batch wall
    * time of the chain as first benchmarked (4 cores): the batch count is
    * fixed by the arguments, never by how fast the program under test
    * runs, so both sides of a comparison process the same events and grow
    * the same history. A traced run times at least two batches, so its
    * per-batch medians and growth have two samples. */
  private val batchesPerSecond = Map(
    "steady_mix" -> 0.1, "steady_mix_unordered" -> 0.1,
    "long_history" -> 0.1, "deep_cascade" -> 0.12)

  def timedBatches(name: String, seconds: Double, traced: Boolean): Int =
    math.max(if (traced) 2 else 1,
      math.round(batchesPerSecond(name) * seconds).toInt)
}

/** The 3-tier dataset tree of the audit stream that ROADMAP item 1 pushed
  * through `fullChain` (`Pipeline.syntheticAuditEvents` over the sf0.1
  * events table): 3 roots, 9 mid-tier datasets and 1,488 leaves, 1,500
  * guids, parent edges as `parentDataset` keys. As in that stream, every
  * audit renames its entity and a fixed share of updates are
  * Atlas-propagated (indirect) audits; parents are drawn uniformly from
  * the tier above. */
abstract class DatasetTree(seed: Long, parentsFirst: Boolean)
    extends Workload {
  val gen = new Gen(seed)
  import gen.Ent
  val roots = 3
  val mids = 9
  val leaves = 1488
  /** Share of updates that are indirect audits: the `error` share of the
    * sf0.1 events table (19,810 of 100,000; 19.8% of non-create events). */
  val pIndirect = 0.198
  private def tier(n: Int, prefix: String, parents: Vector[Ent]) =
    Vector.tabulate(n) { i =>
      val e = new Ent(s"$prefix$i", "m4i_dataset", s"Dataset $prefix$i")
      if (parents.nonEmpty)
        e.rels("parentDataset") = Vector(parents(gen.uniform(parents.size)))
      e
    }
  val rs: Vector[Ent] = tier(roots, "r", Vector.empty)
  val ms: Vector[Ent] = tier(mids, "m", rs)
  val ls: Vector[Ent] = tier(leaves, "l", ms)
  val all: Vector[Ent] = rs ++ ms ++ ls
  private var edits = 0L

  /** One audit of `e`: its (direct) create first, later an indirect audit
    * with `pIndirect`, else a direct one that re-parents a non-root with
    * `pReparent`. With `parentsFirst`, a parent not yet created is created
    * first, in the same batch, as Atlas only relates existing entities. */
  def audit(e: Ent, pReparent: Double): Vector[String] = {
    edits += 1
    e.name = s"Dataset ${e.guid} v$edits"
    e.attrs("definition") = s"def ${e.guid} $edits"
    val u = gen.uniform(1000000) / 1e6
    if (e.created && u < pIndirect) Vector(gen.event(e, direct = false))
    else {
      if (e.created && u < pIndirect + pReparent && e.rels.nonEmpty) {
        val up = if (ms.contains(e)) rs else ms
        e.rels("parentDataset") = Vector(up(gen.uniform(up.size)))
      }
      val parents =
        if (!parentsFirst) Vector.empty
        else e.rels.values.flatten.filter(!_.created).toVector
      parents.flatMap(audit(_, 0.0)) :+ gen.event(e)
    }
  }

  /** About `n` audits (parents created first may add a few) of guids drawn
    * uniformly, as in the sf0.1 stream (every guid has 45 to 99 of its
    * 100,000 events), each replaced by an injected fault with `pFault`. */
  def uniformBatch(n: Int, pReparent: Double, pFault: Double): Vector[String] = {
    val out = Vector.newBuilder[String]
    var k = 0
    while (k < n) {
      val evs =
        if (gen.chance(pFault)) Vector(gen.faultEvent())
        else audit(all(gen.uniform(all.size)), pReparent)
      out ++= evs; k += evs.size
    }
    out.result()
  }
}

/** The ROADMAP item-1 deployment: history starts empty, so batch 0 holds
  * the first creates and is the store's bootstrap. Batch size is the median
  * daily batch of that run (100,000 events in 30 event-time days; the
  * median day holds 3,336). Re-parents and faults have no counterpart in
  * the sf0.1 stream; their shares are assumptions. `steady_mix_unordered`
  * is the same stream without parents-first creates, as in the sf0.1
  * stream: a child created in an earlier batch than its parent. */
final class SteadyMix(seed: Long, parentsFirst: Boolean = true)
    extends DatasetTree(seed, parentsFirst) {
  val name = if (parentsFirst) "steady_mix" else "steady_mix_unordered"
  val batchEvents = 3336
  val pReparent = 0.005
  val pFault = 0.01
  def params = Seq("guids" -> all.size, "roots" -> roots, "mids" -> mids,
    "leaves" -> leaves, "batch_events" -> batchEvents,
    "p_indirect" -> pIndirect, "p_reparent" -> pReparent,
    "p_fault" -> pFault, "history" -> "empty")
  def history(): Vector[String] = Vector.empty
  def nextBatch(): Vector[String] = uniformBatch(batchEvents, pReparent, pFault)
}

/** A store pre-seeded with the first `historyVersions` audits of the
  * steady_mix stream, then small batches over a Zipf-skewed hot set of
  * leaves. The batch size, hot set, skew and fault share are assumptions:
  * the sf0.1 stream has no hot set. Leaves have no descendants, so a
  * batch's renames cascade nowhere and its work stays small on every seed. */
final class LongHistory(seed: Long) extends DatasetTree(seed, true) {
  val name = "long_history"
  val historyVersions = 15000
  val historyReparent = 0.005
  val batchEvents = 20
  val hotSet = 150
  val zipfS = 1.1
  val pFault = 0.02
  private lazy val zipf = new gen.Zipf(hotSet, zipfS)
  private lazy val hot = scala.util.Random.javaRandomToRandom(
    new java.util.Random(seed)).shuffle(ls).take(hotSet)
  def params = Seq("guids" -> all.size, "history_versions" -> historyVersions,
    "history_p_reparent" -> historyReparent, "p_indirect" -> pIndirect,
    "batch_events" -> batchEvents, "hot_set" -> hotSet, "zipf_s" -> zipfS,
    "p_fault" -> pFault)
  def history(): Vector[String] =
    uniformBatch(historyVersions, historyReparent, 0.0)
  def nextBatch(): Vector[String] = Vector.fill(batchEvents) {
    if (gen.chance(pFault)) Vector(gen.faultEvent())
    else audit(hot(zipf.next()), 0.0)
  }.flatten
}

/** A deep dataset tree linked by `parentDataset` keys (same-type edges, so
  * the key prefix orients them), fields hanging off datasets, attributes
  * linked to fields (G15) and stewards assigned to datasets (G16). Each
  * batch renames and re-parents near-root datasets, so breadcrumb and
  * derived-field cascades reach whole subtrees. */
final class DeepCascade(seed: Long) extends Workload {
  val name = "deep_cascade"
  val gen = new Gen(seed)
  import gen.Ent
  val roots = 4
  val fanout = 3
  val depth = 6
  val fieldsPerLeaf = 1
  val persons = 12
  val attributes = 200
  val batchEvents = 40
  val renamesPerBatch = 2
  val reparentsPerBatch = 1
  val roleChangesPerBatch = 2
  val linkChangesPerBatch = 2
  val faultsPerBatch = 1

  private val levels: Vector[Vector[Ent]] = {
    val lv = mutable.ArrayBuffer(Vector.tabulate(roots)(i =>
      new Ent(s"r$i", "m4i_dataset", s"Root $i")))
    for (l <- 1 until depth) lv += lv.last.flatMap { p =>
      Vector.tabulate(fanout) { i =>
        val c = new Ent(s"${p.guid}.$i", "m4i_dataset", s"Set ${p.guid}.$i")
        c.rels("parentDataset") = Vector(p); c
      }
    }
    lv.toVector
  }
  private val ps = Vector.tabulate(persons)(i =>
    new Ent(s"p$i", "m4i_person", s"Person $i"))
  private val fields = levels.last.flatMap(p => Vector.tabulate(fieldsPerLeaf) {
    i => val f = new Ent(s"${p.guid}.f$i", "m4i_field", s"Field ${p.guid}.$i")
      f.rels("dataset") = Vector(p); f
  })
  private val attrs = Vector.tabulate(attributes) { i =>
    val a = new Ent(s"at$i", "m4i_data_attribute", s"Attr $i")
    a.rels("fields") = Vector(fields(gen.uniform(fields.size))); a
  }
  levels.take(3).flatten.foreach(d =>
    d.rels("dataSteward") = Vector(ps(gen.uniform(persons))))
  private val datasets = levels.flatten
  private val all = ps ++ datasets ++ fields ++ attrs
  private var edits = 0L

  def params = Seq("guids" -> all.size, "roots" -> roots, "fanout" -> fanout,
    "depth" -> depth, "fields" -> fields.size, "attributes" -> attributes,
    "persons" -> persons, "batch_events" -> batchEvents,
    "renames_per_batch" -> renamesPerBatch,
    "reparents_per_batch" -> reparentsPerBatch,
    "role_changes_per_batch" -> roleChangesPerBatch,
    "link_changes_per_batch" -> linkChangesPerBatch,
    "faults_per_batch" -> faultsPerBatch)

  def history(): Vector[String] = all.map(gen.event(_))

  private def nearRoot(): Ent = {
    val l = gen.uniform(3)
    levels(l)(gen.uniform(levels(l).size))
  }

  def nextBatch(): Vector[String] = {
    val out = Vector.newBuilder[String]
    for (_ <- 0 until renamesPerBatch) {
      edits += 1
      val e = nearRoot(); e.name = s"${e.guid} n$edits"; out += gen.event(e)
    }
    // re-parent a level-1 or level-2 dataset under another dataset one
    // level up: tree depth, and so cascade depth, stays bounded
    for (_ <- 0 until reparentsPerBatch) {
      val l = 1 + gen.uniform(2)
      val c = levels(l)(gen.uniform(levels(l).size))
      c.rels("parentDataset") =
        Vector(levels(l - 1)(gen.uniform(levels(l - 1).size)))
      out += gen.event(c)
    }
    for (_ <- 0 until roleChangesPerBatch) {
      val e = nearRoot()
      e.rels("dataSteward") = Vector(ps(gen.uniform(persons)))
      out += gen.event(e)
    }
    for (_ <- 0 until linkChangesPerBatch) {
      val a = attrs(gen.uniform(attrs.size))
      a.rels("fields") = Vector(fields(gen.uniform(fields.size)))
      out += gen.event(a)
    }
    for (_ <- 0 until faultsPerBatch) out += gen.faultEvent()
    val fixed = renamesPerBatch + reparentsPerBatch + roleChangesPerBatch +
      linkChangesPerBatch + faultsPerBatch
    for (_ <- fixed until batchEvents) {
      edits += 1
      val e = all(gen.uniform(all.size))
      e.attrs("definition") = s"def ${e.guid} $edits"
      out += gen.event(e)
    }
    out.result()
  }
}
