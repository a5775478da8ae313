package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * where / whereDocument → Catalyst predicate, and its per-row twin for
 * driver-local scans ([[Filters.rowMatcher]]).
 *
 * Semantics pinned to the reference:
 *  - `where`: metadata equality on every entry, implicit AND
 *    (query.go:133-141). A missing key behaves as Go's zero value "" —
 *    so `where = {k: ""}` matches docs WITHOUT key k (query.go:136-138).
 *    Plain `element_at` would yield NULL (never equal), hence the coalesce.
 *  - `whereDocument`: only `$contains` / `$not_contains`, case-sensitive
 *    substring on content, implicit AND (query.go:14,144-160). Unknown
 *    operators are rejected up front (collection.go:513-518).
 */
object Filters {

  val ContainsOp = "$contains"
  val NotContainsOp = "$not_contains"
  private val validOps = Set(ContainsOp, NotContainsOp)

  /** Error parity: query path says "unsupported operator"
    * (collection.go:513-518), delete path says "unsupported whereDocument
    * operator" (collection.go:348-352). */
  def validateWhereDocument(
      whereDocument: Map[String, String],
      message: String = "unsupported operator"): Unit =
    whereDocument.keys.foreach { op =>
      if (!validOps.contains(op)) throw new IllegalArgumentException(message)
    }

  def metadataPredicate(where: Map[String, String]): Column = {
    checkWhere(where)
    where.foldLeft(lit(true)) { case (acc, (k, v)) =>
      acc && (coalesce(element_at(col("metadata"), lit(k)), lit("")) === lit(v))
    }
  }

  def contentPredicate(whereDocument: Map[String, String]): Column = {
    checkWhereDocument(whereDocument)
    whereDocument.foldLeft(lit(true)) {
      case (acc, (ContainsOp, v))    => acc && coalesce(col("content"), lit("")).contains(v)
      case (acc, (NotContainsOp, v)) => acc && !coalesce(col("content"), lit("")).contains(v)
      case (acc, _)                  => acc // unreachable after validation
    }
  }

  def predicate(where: Map[String, String], whereDocument: Map[String, String]): Column =
    metadataPredicate(where) && contentPredicate(whereDocument)

  /** Per-row twin of [[predicate]] for driver-local scans: the same
    * validation and errors, the same semantics on (metadata, content) —
    * a missing key or null value reads as "", null metadata reads as no
    * keys, null content reads as "", contains is case-sensitive. */
  def rowMatcher(
      where: Map[String, String],
      whereDocument: Map[String, String]): (Map[String, String], String) => Boolean = {
    checkWhere(where)
    checkWhereDocument(whereDocument)
    val eq = where.toArray
    val contains = whereDocument.get(ContainsOp)
    val notContains = whereDocument.get(NotContainsOp)
    (metadata, content) => {
      val c = if (content == null) "" else content
      eq.forall { case (k, v) =>
        val m = if (metadata == null) null else metadata.getOrElse(k, null)
        (if (m == null) "" else m) == v
      } && contains.forall(c.contains) && !notContains.exists(c.contains)
    }
  }

  // reject null keys/values up front: lit(null) nulls the whole
  // AND-fold and the filter silently returns ZERO rows — in the Go
  // reference this state is unrepresentable (map[string]string cannot
  // hold nil), so loud rejection is the faithful port of "cannot
  // happen", not a behavior change
  private def checkWhere(where: Map[String, String]): Unit =
    where.foreach { case (k, v) =>
      if (k == null || v == null) throw new IllegalArgumentException(
        "where keys and values must be non-null")
    }

  private def checkWhereDocument(whereDocument: Map[String, String]): Unit = {
    validateWhereDocument(whereDocument)
    whereDocument.foreach { case (_, v) =>
      if (v == null) throw new IllegalArgumentException(
        "whereDocument values must be non-null")
    }
  }

  // ------------------------------------------------------------------
  // $and / $or combinators — the reference's roadmap extension
  // (README.md:179-180, not implemented there). A small clause AST that
  // compiles to one Catalyst predicate; leaf semantics identical to the
  // flat maps above (missing metadata key ⇒ "", case-sensitive contains).
  // ------------------------------------------------------------------

  sealed trait Clause
  /** metadata[key] == value (missing key ⇒ ""). */
  case class MetaEq(key: String, value: String) extends Clause
  /** content contains the substring (case-sensitive). */
  case class ContentContains(s: String) extends Clause
  /** content does NOT contain the substring. */
  case class ContentNotContains(s: String) extends Clause
  case class And(clauses: Seq[Clause]) extends Clause
  case class Or(clauses: Seq[Clause]) extends Clause
  case class Not(clause: Clause) extends Clause

  def compile(clause: Clause): Column = clause match {
    case MetaEq(k, v) =>
      coalesce(element_at(col("metadata"), lit(k)), lit("")) === lit(v)
    case ContentContains(s) => coalesce(col("content"), lit("")).contains(s)
    case ContentNotContains(s) => !coalesce(col("content"), lit("")).contains(s)
    case And(cs) => cs.map(compile).foldLeft(lit(true))(_ && _)
    case Or(cs) =>
      if (cs.isEmpty) lit(false) else cs.map(compile).reduce(_ || _)
    case Not(c) => !compile(c)
  }
}
