package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream metadata registry — the reference's `streams` collection
  * [ds :: api.py :: ensure_stream, find_streams] (SURVEY.md §2.1 S4/S5).
  *
  * The registry is the *small dimension side*: at any realistic scale
  * (millions of streams ≈ low GB) it broadcasts, so stream selection is a
  * broadcast hash semi-join against the fact table and never shuffles the
  * 100 TB side (SURVEY.md §2.3 J1). If it ever outgrew broadcast the same
  * plan degrades to a shuffle join — a config change, not a redesign.
  */
object StreamRegistry {

  /** Derive the stream-metadata dimension from the events fact table:
    * one stream per `(user_id, event_type)` with the FIXTURES.md §B tag
    * fixture. Mirrors what `ensure_stream` accumulates in the reference:
    * tags + reserved keys (`earliest_datapoint`, `latest_datapoint`).
    */
  def fromEvents(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n_datapoints"),
        min("ts").as("earliest_datapoint"),
        max("ts").as("latest_datapoint"))
      .select(
        concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
        map(
          lit("user"), col("user_id").cast("string"),
          lit("type"), col("event_type")).as("tags"),
        // nested tag document (P2): the HTTP layer's `tags__meta__parity`
        // path queries resolve against this JSON column via get_json_object
        to_json(struct(
          col("user_id").cast("string").as("user"),
          col("event_type").as("type"),
          struct(when(col("user_id") % 2 === 1, "odd").otherwise("even")
            .as("parity")).as("meta"))).as("tags_json"),
        lit(ValueType.Numeric).as("value_type"),
        typedLit(Downsamplers.allValue.toSeq.sorted).as("value_downsamplers"),
        typedLit(Downsamplers.allTime.toSeq.sorted).as("time_downsamplers"),
        lit(Granularity.Seconds.name).as("highest_granularity"),
        typedLit(Seq.empty[String]).as("derived_from"),
        col("earliest_datapoint"),
        col("latest_datapoint"),
        col("n_datapoints"))

  /** Tag-equality query over the registry — the reference's
    * `find_streams(query_tags)` (SURVEY.md §2.2 P2). Flat tags match via
    * `element_at` on the tags map; nested paths (the HTTP layer's
    * `tags__a__b=c`, expressed here as "a.b" keys) match via
    * `get_json_object` on a `tags_json` column when present.
    */
  def findStreams(registry: DataFrame, tagQuery: Map[String, String]): DataFrame =
    tagQuery.foldLeft(registry) { case (df, (k, v)) =>
      if (k.contains(".") && df.columns.contains("tags_json"))
        df.where(get_json_object(col("tags_json"), s"$$.$k") === v)
      else
        df.where(element_at(col("tags"), k) === v)
    }

  /** Spark-4 `VariantType` flavor of the nested tag document (SURVEY
    * §1.1's Spark-4 note): the same `tags_json` text parsed once into the
    * binary variant encoding, so path extraction (`variant_get`) is a
    * binary-offset walk instead of a per-row JSON parse — the right shape
    * when many predicates probe the same document. Kept as a derived
    * column beside `tags_json` (the portable representation parquet
    * readers of any engine can consume).
    */
  def withVariantTags(registry: DataFrame): DataFrame =
    registry.withColumn("tags_variant", parse_json(col("tags_json")))

  /** Nested-path equality through the variant column — must select the
    * exact rows the `tags_json` path query selects (asserted in tests and
    * by the `q_find_streams_variant` gate).
    */
  def findStreamsVariant(registry: DataFrame, path: String, v: String): DataFrame =
    registry.where(
      variant_get(col("tags_variant"), s"$$.$path", "string") === v)

  /** Mongo-style tag-query operators — the reference passes query
    * documents straight through to `streams.find(...)`, so `$gt`-shaped
    * predicates work there [ds :: backends/mongodb.py :: find_streams];
    * this is the Spark-side equivalent over the registry's tag columns.
    * Comparisons (`Gt`..`Lte`) are NUMERIC: the tag value is cast to
    * double, and a non-numeric value casts to null and never matches —
    * mirroring Mongo's type bracketing, where a string tag never
    * satisfies a numeric range. `Prefix` is the anchored `$regex ^p`
    * idiom; `Exists` matches key presence regardless of value.
    */
  sealed trait TagPred
  object TagPred {
    final case class Eq(v: String) extends TagPred
    final case class Gt(v: Double) extends TagPred
    final case class Gte(v: Double) extends TagPred
    final case class Lt(v: Double) extends TagPred
    final case class Lte(v: Double) extends TagPred
    final case class In(vs: Seq[String]) extends TagPred
    final case class Exists(present: Boolean) extends TagPred
    final case class Prefix(p: String) extends TagPred
    /** Mongo `$regex` (unanchored substring semantics, like `streams.find`
      * with a bare pattern): Java regex via `rlike`. An absent key is null
      * and never matches — same bracketing as the comparisons.
      */
    final case class Regex(pattern: String) extends TagPred
    /** Mongo `$ne`: matches a DIFFERENT value OR an ABSENT key — Mongo's
      * negations include missing fields, the opposite bracketing from
      * every positive predicate here, which is why these are their own
      * nodes and not `!Eq`.
      */
    final case class Ne(v: String) extends TagPred
    /** Mongo `$nin`: value outside the set, absent key included. */
    final case class Nin(vs: Seq[String]) extends TagPred
  }

  /** One operator predicate compiled to a codegen'd Column over the
    * resolved tag accessor (dotted path → `tags_json`, else flat map key).
    */
  private def predColumn(df: DataFrame, k: String,
                         p: TagPred): org.apache.spark.sql.Column = {
    import TagPred._
    val acc =
      if (k.contains(".") && df.columns.contains("tags_json"))
        get_json_object(col("tags_json"), s"$$.$k")
      else element_at(col("tags"), k)
    // try_cast, not cast: under ANSI semantics a plain cast THROWS on a
    // non-numeric tag value, where type bracketing demands "never
    // matches" — try_cast yields null, and null comparisons are false
    p match {
      case Eq(v)          => acc === v
      case Gt(v)          => acc.try_cast("double") > v
      case Gte(v)         => acc.try_cast("double") >= v
      case Lt(v)          => acc.try_cast("double") < v
      case Lte(v)         => acc.try_cast("double") <= v
      case In(vs)         => acc.isin(vs: _*)
      case Exists(true)   => acc.isNotNull
      case Exists(false)  => acc.isNull
      case Prefix(pre)    => acc.startsWith(pre)
      case Regex(pat)     => acc.rlike(pat)
      case Ne(v)          => acc.isNull || acc =!= v
      case Nin(vs)        => acc.isNull || !acc.isin(vs: _*)
    }
  }

  /** `find_streams` with operator predicates: every (key → predicates)
    * entry must hold (AND across keys and within a key's list, like a
    * Mongo query document `{user: {$gte: 3, $lt: 8}}`). Keys resolve
    * exactly as in [[findStreams]]: dotted paths through the nested
    * `tags_json` document, plain keys through the flat tags map. Pure
    * filter pushdown — each predicate compiles to a codegen'd Column, so
    * over a registry table these reach the parquet scan.
    */
  def findStreamsWhere(registry: DataFrame,
                       query: Map[String, Seq[TagPred]]): DataFrame =
    query.foldLeft(registry) { case (df, (k, preds)) =>
      preds.foldLeft(df)((d, p) => d.where(predColumn(df, k, p)))
    }

  /** Composable query documents — the reference accepts arbitrary Mongo
    * documents (`{$or: [...]}` included) and hands them to `streams.find`
    * [ds :: backends/mongodb.py :: find_streams]; this is the matching
    * algebra. A whole document compiles to ONE boolean Column (no plan
    * union per alternative), so an `$or` over N clauses is still a single
    * registry scan with the disjunction pushed into it.
    */
  sealed trait TagQuery
  object TagQuery {
    /** A Mongo-style clause document: AND across keys and within each
      * key's predicate list.
      */
    final case class Clause(query: Map[String, Seq[TagPred]]) extends TagQuery
    /** `$or`: at least one alternative holds. Empty matches nothing (the
      * Mongo `$or: []` shape is an error there; here it is the identity
      * of disjunction).
      */
    final case class Or(alternatives: Seq[TagQuery]) extends TagQuery
    /** `$and`: every part holds. Empty matches everything. */
    final case class And(parts: Seq[TagQuery]) extends TagQuery
  }

  private def compileQuery(df: DataFrame,
                           q: TagQuery): org.apache.spark.sql.Column = q match {
    case TagQuery.Clause(m) =>
      m.toSeq.flatMap { case (k, ps) => ps.map(predColumn(df, k, _)) }
        .reduceOption(_ && _).getOrElse(lit(true))
    case TagQuery.Or(alts) =>
      alts.map(compileQuery(df, _)).reduceOption(_ || _).getOrElse(lit(false))
    case TagQuery.And(parts) =>
      parts.map(compileQuery(df, _)).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** `find_streams` over a full query document (disjunction included). */
  def findStreamsQuery(registry: DataFrame, q: TagQuery): DataFrame =
    registry.where(compileQuery(registry, q))

  /** Stream-selection semi-join (J1): restrict the fact table to datapoints
    * of the matched streams. Broadcast keeps the fact side shuffle-free.
    */
  def selectDatapoints(fact: DataFrame, matched: DataFrame): DataFrame =
    fact.join(broadcast(matched.select("stream_id")), Seq("stream_id"), "left_semi")

  /** Dependency check backing `delete_streams`
    * [ds :: backends/mongodb.py :: delete_streams]: refuse deletion when a
    * surviving derived stream lists a doomed stream in `derived_from`.
    * Returns the violating (derived, source) pairs, sorted; empty ⇒ safe
    * to delete. Runs on the driver over the registry rows: with no stream
    * derived from another it runs no Spark work, else it collects only the
    * `doomed` ids that can take part in a pair (an IN filter; over a
    * registry-derived local relation the collect runs no job).
    */
  def outstandingDependencies(registry: Seq[StreamMeta],
                              doomed: DataFrame): Seq[(String, String)] = {
    val deriving = registry.filter(_.derived_from.nonEmpty)
    if (deriving.isEmpty) Seq.empty
    else {
      val ids = deriving.flatMap(d => d.stream_id +: d.derived_from).distinct.sorted
      val gone = doomed.select("stream_id").where(col("stream_id").isInCollection(ids))
        .collect().map(_.getString(0)).toSet
      (for (d <- deriving if !gone(d.stream_id); src <- d.derived_from if gone(src))
        yield (d.stream_id, src)).distinct.sorted
    }
  }
}
