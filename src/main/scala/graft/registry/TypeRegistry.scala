package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.annotation.tailrec

/** Type registry: supertype DAG closure, hierarchy mapping, source-type
  * classification (SURVEY §2.5 G1–G4; the lookups behind G5–G7).
  *
  * The reference resolves supertypes by recursive Atlas REST calls per record
  * (`/root/reference/m4i_flink_tasks/synchronize_app_search/synchronize_app_search.py:27-48`).
  * Here the registry is a small static dimension: the transitive closure is
  * precomputed once on the driver (bounded fixpoint over a shallow DAG) and
  * broadcast — a per-row map lookup instead of per-row HTTP. At 100 TB the
  * registry stays O(#types), never scales with data.
  *
  * Type constants from `parameters.py:15-25` and `HierarchyMapping.py:3-9`.
  */
object TypeRegistry {

  // direct supertypes (type → declared supertypes), per the m4i type system
  val directSuperTypes: Map[String, Seq[String]] = Map(
    "m4i_referenceable" -> Seq("Referenceable"),
    "m4i_data_domain" -> Seq("m4i_referenceable"),
    "m4i_data_entity" -> Seq("m4i_referenceable"),
    "m4i_data_attribute" -> Seq("m4i_referenceable"),
    "m4i_system" -> Seq("m4i_referenceable"),
    "m4i_collection" -> Seq("m4i_referenceable"),
    "m4i_dataset" -> Seq("m4i_referenceable"),
    "m4i_field" -> Seq("m4i_referenceable"),
    "m4i_kafka_field" -> Seq("m4i_field", "m4i_kafka_referenceable"),
    "m4i_kafka_referenceable" -> Seq("m4i_referenceable"),
    "m4i_person" -> Seq("m4i_referenceable"),
    "m4i_generic_process" -> Seq("m4i_referenceable"))

  /** G1: transitive supertype closure, root-first (matches the reference's
    * reversed accumulation in create_doc `synchronize_app_search.py:577`).
    * Driver-side fixpoint; DAG depth bounds iterations. */
  val superTypeClosure: Map[String, Seq[String]] = {
    @tailrec
    def close(acc: Map[String, Seq[String]]): Map[String, Seq[String]] = {
      val next = acc.map { case (t, sups) =>
        val widened = sups.flatMap(s => acc.getOrElse(s, Seq.empty) :+ s)
          .distinct
        t -> widened
      }
      if (next == acc) acc else close(next)
    }
    val closed = close(directSuperTypes)
    closed.map { case (t, sups) =>
      // root-first ordering then self, e.g. [Referenceable, m4i_referenceable, m4i_data_domain]
      val ordered = sups.sortBy(s => closed.getOrElse(s, Seq.empty).size)
      t -> (ordered :+ t)
    }
  }

  // G2 constants (parameters.py:15-25)
  val businessTypes: Set[String] =
    Set("m4i_data_domain", "m4i_data_entity", "m4i_data_attribute")

  val m4iTypes: Set[String] = Set(
    "m4i_data_domain", "m4i_data_entity", "m4i_data_attribute",
    "m4i_system", "m4i_collection", "m4i_dataset", "m4i_field")

  /** G4: hierarchy edges, child type → parent type (HierarchyMapping.py:3-9). */
  val hierarchyMapping: Map[String, String] = Map(
    "m4i_data_entity" -> "m4i_data_domain",
    "m4i_data_attribute" -> "m4i_data_entity",
    "m4i_collection" -> "m4i_system",
    "m4i_dataset" -> "m4i_collection",
    "m4i_field" -> "m4i_dataset")

  // --- column lookups (the closure as a literal map dimension). The
  // relationship classifiers G5-G7 apply them to both ends of an edge in
  // `Pipeline.toParentEdges` and `Pipeline.toAttributeFieldLinks`. ---

  /** Closure as a column lookup: typeName → ARRAY<STRING> supertypes. */
  def superTypesCol(typeName: Column): Column = {
    val entries = superTypeClosure.toSeq.flatMap { case (t, sups) =>
      Seq(lit(t), array(sups.map(lit): _*))
    }
    coalesce(element_at(map(entries: _*), typeName), array(typeName))
  }

  /** G2: Business iff any business type is in the supertype closure
    * (arrays_overlap on the closure). */
  def sourceTypeCol(typeName: Column): Column =
    when(arrays_overlap(superTypesCol(typeName),
      array(businessTypes.toSeq.sorted.map(lit): _*)), "Business")
      .otherwise("Technical")

  /** G3: the closure intersected with the 7 known m4i types, in closure
    * order. */
  def m4iSourceTypesCol(typeName: Column): Column =
    array_intersect(superTypesCol(typeName),
      array(m4iTypes.toSeq.sorted.map(lit): _*))

  /** G4: child type → parent type lookup. */
  def parentTypeCol(typeName: Column): Column = {
    val entries = hierarchyMapping.toSeq.flatMap { case (c, p) => Seq(lit(c), lit(p)) }
    element_at(map(entries: _*), typeName)
  }
}
