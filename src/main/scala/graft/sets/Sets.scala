package graft.sets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import graft.classify.{Classify, NameCase}
import graft.store.Materialize

/** Dimension ("set") materialization (SURVEY.md §1.1, §2.10; ref
  * `Sets.pm:34-164,222-336`): turn repository metadata into
  * (set_value, id) dimension tables, with multi-value explosion,
  * name normalization, optional anonymization, blacklisting and
  * subject ancestor closure.
  *
  * Scale posture: set tables are small relative to facts (one row per
  * item x value). They are built once per ETL run with explode +
  * joins, then BROADCAST at query time (QueryCompiler J1/J2). The
  * ancestor closure walks the subject tree on the driver — the tree is
  * one row per subject (a taxonomy, thousands of rows, not items), the
  * size a broadcast join already collects to the driver — and joins
  * the resulting (subject, ancestors) table to the assignments once,
  * broadcast. No Spark job decides when the walk ends.
  *
  * Every builder ([[materialize]], [[materializeCompound]],
  * [[ancestorClosure]]) returns a materialized dim: the frame reads one
  * eager checkpoint, which the caller owns — it goes to the caller's
  * [[graft.store.Materialize.scope]] if one is open, else the caller
  * frees it (or drops every reference and lets Spark's ContextCleaner
  * free it). Later reads, caches and broadcasts scan the checkpoint
  * instead of re-running the explode and the dedup shuffle.
  */
object Sets {

  /** Declarative set definition.
    * @param name        set name (dim table key)
    * @param source      metadata column holding the value(s)
    * @param multiple    explode an array column
    * @param isName      apply NameCase "family, given" normalization
    * @param anonymize   md5 the value (ref `Sets.pm:341-360`)
    * @param blacklist   values to drop */
  final case class SetDef(
      name: String,
      source: String,
      multiple: Boolean = false,
      isName: Boolean = false,
      anonymize: Boolean = false,
      blacklist: Set[String] = Set.empty)

  /** Compound set definition over reference-shaped metadata — an
    * array-of-struct column like `creators = [{name: {family, given},
    * id}, ...]` (ref `Sets.pm:100-132` compound handling,
    * `Sets.pm:378-392` value extraction).
    *
    * Two modes, mirroring the reference exactly:
    *  - `useIds = true` (ref `use_ids`): the set KEY is the
    *    lowercased per-author id sub-field (e.g. `creators_id`), the
    *    rendered display is the NameCased "family, given"; entries
    *    whose id is null/empty are DROPPED (`Sets.pm:385` — `return
    *    [] unless is_set(raw_value->{id_field})`).
    *  - `useIds = false`: only the name part is used — key and
    *    display are both the normalized name, identical to a plain
    *    [[SetDef]] on the pseudo `<field>_name` column
    *    (`Sets.pm:124-130`).
    *
    * @param name      set name (dim table key)
    * @param source    array<struct> metadata column
    * @param useIds    key on the id sub-field instead of the name
    * @param idField   id sub-field name inside the struct (`id`)
    * @param nameField name sub-field holding {family, given}
    * @param anonymize md5 the key (ref `generate_key`/`set_anon`)
    * @param blacklist key values to drop */
  final case class CompoundSetDef(
      name: String,
      source: String,
      useIds: Boolean = true,
      idField: String = "id",
      nameField: String = "name",
      anonymize: Boolean = false,
      blacklist: Set[String] = Set.empty)

  /** Materialize a compound set dim: (set_value, id, rendered) — one
    * row per (item, author-key), the rendered display carried along
    * so [[setFinder]] lookups need no re-derivation.
    * Same scale posture as [[materialize]]: dimension-sized output,
    * one explode + codegen'd projection, no joins; returned as one
    * caller-owned checkpoint, like every builder here. */
  def materializeCompound(meta: DataFrame, d: CompoundSetDef,
      idCol: String = "id"): DataFrame = dim(meta, "Sets.materializeCompound") {
    val ex = meta.select(col(idCol).as("id"), explode(col(d.source)).as("c"))
    val nameStruct = col("c").getField(d.nameField)
    val display = NameCase.displayName(
      nameStruct.getField("family"), nameStruct.getField("given"))
    val keyed =
      if (d.useIds) {
        val rawId = trim(col("c").getField(d.idField).cast("string"))
        ex.filter(rawId.isNotNull && rawId =!= "")
          .select(col("id"), lower(rawId).as("v"), display.as("rendered"))
      } else {
        ex.select(col("id"), display.as("v"), display.as("rendered"))
      }
    // blacklist BEFORE anonymize: filtering after compared the raw
    // blacklist entries against md5 digests and matched nothing —
    // blacklisting was silently disabled for anonymized sets.
    // Blacklist entries match the pre-anonymization (lowercased) key.
    val listed =
      if (d.blacklist.nonEmpty) keyed.filter(!col("v").isin(d.blacklist.toSeq: _*))
      else keyed
    val anon =
      if (d.anonymize) listed.withColumn("v", Classify.anonymize(col("v")))
      else listed
    // dedup over the KEY pair only: distinct() over (v, id, rendered)
    // keeps one row per rendering variant of the same key ("Smith, J."
    // vs "smith, j" on one author id), and the J1 fact join then
    // double-counts that item. One deterministic rendering (max) per
    // (set_value, id).
    anon.filter(col("v").isNotNull && col("v") =!= "")
      .groupBy(col("v").as("set_value"), col("id"))
      .agg(max(col("rendered")).as("rendered"))
  }

  /** Materialize one set dim: (set_value, id), as one caller-owned
    * checkpoint. */
  def materialize(meta: DataFrame, d: SetDef,
      idCol: String = "id"): DataFrame = dim(meta, "Sets.materialize") {
    val exploded =
      if (d.multiple) meta.select(col(idCol).as("id"), explode(col(d.source)).as("v"))
      else meta.select(col(idCol).as("id"), col(d.source).as("v"))
    val normalized = if (d.isName) exploded.withColumn("v", NameCase(col("v"))) else exploded
    // clean + blacklist BEFORE anonymize (see materializeCompound):
    // blacklist entries match the pre-anonymization value
    val cleaned = normalized.filter(col("v").isNotNull && col("v") =!= "")
    val listed =
      if (d.blacklist.nonEmpty) cleaned.filter(!col("v").isin(d.blacklist.toSeq: _*))
      else cleaned
    val anon = if (d.anonymize) listed.withColumn("v", Classify.anonymize(col("v")))
      else listed
    anon.select(col("v").as("set_value"), col("id")).distinct()
  }

  /** The built dim as one eager checkpoint that the returned frame
    * reads and the caller owns ([[graft.store.Materialize]]). The
    * checkpoint is taken from the AQE-final plan, so it keeps the
    * coalesced partition count: a caller that caches it and counts
    * runs a few tasks, where a cached shuffle plan keeps
    * `initialPartitionNum` (8 x cores) partitions. */
  private def dim(meta: DataFrame, label: String)(build: => DataFrame): DataFrame =
    Materialize.scope(meta.sparkSession, label)(m => m("dim")(build))

  /** Subject ancestor closure (ref `Sets.pm:402-424,461-485`): an
    * item tagged with a subject also counts toward every ancestor.
    * `tree` is (child, parent); ancestors up to `maxDepth` steps above
    * a subject count (the tree height bounds the walk).
    *
    * Depositability filter (ref `Sets.pm:471-479`): when `depositable`
    * is supplied — (subjectid, depositable) — a non-depositable
    * subject survives the closure only if its id is in `whitelist`
    * (ref `Sets.pm:94-97` set property; `Sets.pm:476-478` "is it in
    * the white-list of non-depositable subjects?"). Subjects absent
    * from the dim are dropped, mirroring the reference's
    * `next unless defined $s`. With no `depositable` dim the closure
    * is unfiltered (legacy behavior).
    *
    * The tree is read once (one scan, cast to the type of
    * `set_value`, deduplicated on the driver) and walked there
    * breadth-first per subject, as the reference walks each subject's
    * ancestors: a null child matches nothing, a null parent counts as
    * an ancestor but has none of its own, and a cycle ends at the
    * visited set. The (subject, ancestors) table then joins the
    * assignments in one broadcast join, so the Spark jobs do not grow
    * with the tree's depth. The closure is materialized once; the
    * returned frame reads that one checkpoint, which the caller owns
    * ([[graft.store.Materialize]]), so its plan depth is O(1) —
    * guarded by PlanShapeSpec ("ancestorClosure plan depth"). */
  def ancestorClosure(assignments: DataFrame, tree: DataFrame,
      maxDepth: Int = 12,
      depositable: Option[DataFrame] = None,
      whitelist: Set[String] = Set.empty): DataFrame =
    Materialize.scope(assignments.sparkSession, "Sets.ancestorClosure") { m =>
      // assignments: (set_value, id); tree: (child, parent)
      val asn = assignments.select(col("set_value"), col("id"))
      val t = asn.schema("set_value").dataType
      val edges = tree.select(col("child").cast(t), col("parent").cast(t))
        .collect().map(r => r.get(0) -> r.get(1)).distinct.toSeq
      val up = assignments.sparkSession.createDataFrame(
        ancestorsWithin(edges, maxDepth).asJava,
        StructType(Seq(StructField("subject", t), StructField("ancestors", ArrayType(t)))))
      // every subject's ancestors list starts with the subject itself;
      // one absent from the tree (or null) keeps just its own row
      val closure = m("closure")(asn
        .join(broadcast(up), asn("set_value") === up("subject"), "left")
        .select(explode(coalesce(up("ancestors"), array(asn("set_value")))).as("set_value"),
          asn("id"))
        .distinct())
      depositable.fold(closure) { dep =>
        val d = broadcast(dep
          .select(col("subjectid"), col("depositable").cast("boolean").as("depositable"))
          .distinct())
        val whitelisted =
          if (whitelist.nonEmpty) col("subjectid").isin(whitelist.toSeq: _*)
          else lit(false)
        closure.join(d, closure("set_value") === d("subjectid"), "left")
          .filter(coalesce(col("depositable") || whitelisted, lit(false)))
          .select(closure("set_value"), closure("id"))
      }
    }

  /** One row per subject that has a parent: (subject, the subject
    * followed by every ancestor within `maxDepth` steps), breadth-first
    * over the deduplicated (child, parent) edges. */
  private def ancestorsWithin(edges: Seq[(Any, Any)], maxDepth: Int): Seq[Row] = {
    val parents = edges.filter(_._1 != null).groupMap(_._1)(_._2)
    parents.keys.toSeq.map { subject =>
      val seen = mutable.LinkedHashSet[Any](subject)
      var frontier = Seq(subject)
      var depth = 0
      while (frontier.nonEmpty && depth < maxDepth) {
        frontier = for (c <- frontier; p <- parents.getOrElse(c, Nil) if seen.add(p)) yield p
        depth += 1
      }
      Row(subject, seen.toSeq)
    }
  }

  /** Set-finder lookup (ref `Handler.pm:778-821`): the rendered set
    * values, optionally narrowed to `%substring%` — the query behind
    * the author-search box, hit on every keystroke. User input is
    * treated as a LITERAL substring: LIKE metacharacters (`%`, `_`,
    * and the escape char itself) are escaped, mirroring the
    * reference's `prep_like_value` (`Database.pm`), so a search for
    * "100%" cannot turn into a wildcard scan of everything. Ordering
    * is collation-aware (ref `:803-807`, MySQL utf8_unicode_ci):
    * case-insensitive primary + raw value and key tiebreaks keep it
    * total and engine-reproducible. The LIKE is a codegen'd substring
    * scan over the (small, distinct) rendered-values dim — at 100 TB
    * this table is set-cardinality-sized, not fact-sized, so a full
    * scan per keystroke is the right plan (the reference also scans,
    * via its dedicated rendered-values table). */
  def setFinder(rendered: DataFrame, like: Option[String] = None,
      valueCol: String = "set_value",
      renderedCol: String = "rendered"): DataFrame = {
    val narrowed = like.filter(_.nonEmpty).fold(rendered) { l =>
      val esc = l.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      rendered.filter(col(renderedCol).like(s"%$esc%"))
    }
    narrowed.orderBy(lower(col(renderedCol)), col(renderedCol), col(valueCol))
  }
}
