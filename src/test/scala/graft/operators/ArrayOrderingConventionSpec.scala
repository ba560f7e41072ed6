package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, MapType, StructType}

/** Mechanical enforcement of the ARRAY-ordering convention — the one
  * scope note NullOrderingConventionSpec carried as prose ("no
  * declared query sorts arrays with nullable elements", hand-audited
  * over 14 sites in r18), now a plan walk (VERDICT r18 #3). Same seam
  * shape that produced q179 and the five r18 rank-path finds: a prose
  * claim a future query can silently violate.
  *
  * The divergence matrix, pinned EMPIRICALLY (Spark 4.1.2 live in the
  * first test below; DuckDB 1.0.0 on the oracle build, session
  * 2026-08-16 — `list_sort([3,NULL,1])` → `[1,3,NULL]`,
  * `list_sort(...,'DESC')` → `[3,1,NULL]`,
  * `list_sort([{a:1,b:2},{a:1,b:NULL}])` → `[{a:1,b:2},{a:1,b:NULL}]`):
  *
  *  - `array_sort`, top-level NULL elements: Spark LAST, DuckDB LAST —
  *    AGREE.
  *  - `sort_array` ASC, top-level NULL elements: Spark FIRST, DuckDB
  *    LAST — DIVERGES.
  *  - `sort_array` DESC, top-level NULL elements: Spark LAST, DuckDB
  *    LAST — AGREE.
  *  - a NULL struct FIELD reached on a tie (either function, either
  *    direction): Spark orders the NULL field FIRST
  *    (`[{a:1,b:NULL},{a:1,b:2}]`), DuckDB LAST — DIVERGES.
  *
  * So the walk flags exactly two shapes, over every declared query's
  * analyzed plan (subqueries included):
  *
  *  1. `sort_array(..., asc)` whose elements are not provably
  *     non-NULL — proof: element type `containsNull = false`, a
  *     collect_list/collect_set source (both skip NULL inputs), or a
  *     CreateArray of proven-non-null children ([[NullProof]] is the
  *     prover, shared with NullOrderingConventionSpec so the two
  *     gates cannot diverge).
  *  2. either function over STRUCT elements unless every field is
  *     proven non-NULL, OR the first field is proven non-NULL and
  *     provably TIE-FREE within each collected group (the collecting
  *     Aggregate's input is itself an Aggregate grouped by exactly
  *     the outer keys plus the first field — one row per first-field
  *     value per group, so the comparator never reaches the later
  *     fields; the q31-centroid `struct(i, c)` shape, where `c` is an
  *     avg that CAN be NULL when a label's every member misses
  *     dimension i).
  *
  * A custom `array_sort` comparator lambda would carry its own NULL
  * semantics — anything not structurally the default comparator is
  * treated as unproven (no declared query uses one).
  *
  * Non-walkable sites: array sorts inside EAGERLY-executed
  * construction-time frames (k-centroid collect pulls) and behind
  * localCheckpoint boundaries never appear in a declared query's
  * analyzed plan. The source-pin test at the bottom counts every
  * `array_sort`/`sort_array` token in src/main against a pinned
  * per-file census with a written reason for each non-walkable site —
  * a new site anywhere moves a count and fails the pin, forcing the
  * walk/audit question instead of letting the site ride in silently.
  */
class ArrayOrderingConventionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** query -> (why each pinned unproven array sort cannot place a NULL
    * divergently, the exact finding set excused) — the
    * NullOrderingConventionSpec exemption discipline: dead entries and
    * new riders both fail.
    */
  private val structurallySafeArraySort: Map[String, (String, Set[String])] = Map(
    "q47_repetition" -> ("bigrams is zip_with over two EQUAL-LENGTH slices of the same split() array — zip_with NULL-pads only the SHORTER input, and split() elements are non-null, so the concat lambda never sees a NULL and the grams carry none; Spark just types zip_with containsNull conservatively from the lambda variables (trigrams are never sorted — only size/array_distinct touch them)",
      Set("sort_array:top-null:bigrams")),
  )

  // ---------------------------------------------------------------- //
  // the walk                                                          //
  // ---------------------------------------------------------------- //

  private def isDefaultComparator(f: Expression): Boolean = f match {
    case LambdaFunction(
        If(And(IsNull(_), IsNull(_)), Literal(0, _),
          If(IsNull(_), Literal(1, _),
            If(IsNull(_), Literal(-1, _),
              If(LessThan(_, _), Literal(-1, _),
                If(GreaterThan(_, _), Literal(1, _), Literal(0, _)))))), _, _) => true
    case _ => false
  }

  /** Any nested part of `dt` that could hold a NULL reached by the
    * comparator (struct fields, array elements, map values —
    * recursively).
    */
  private def deepNullableParts(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.exists(f => f.nullable || deepNullableParts(f.dataType))
    case at: ArrayType => at.containsNull || deepNullableParts(at.elementType)
    case mt: MapType => mt.valueContainsNull || deepNullableParts(mt.valueType)
    case _ => false
  }

  /** Alias/attr chains resolve through the shared prover's
    * [[NullProof.resolveDefn]] (r20 extraction — the bounded-window
    * and top-k walks reuse it, so the walks cannot diverge on what
    * "the defining expression" means).
    */
  private def resolve(e: Expression, facts: NullProof.Facts, scope: LogicalPlan): Expression =
    NullProof.resolveDefn(e, facts, scope)

  /** The collected element-construction expression, when `base` is a
    * NULL-skipping collect.
    */
  private def collectChild(base: Expression): Option[Expression] = base match {
    case ae: AggregateExpression =>
      ae.aggregateFunction match {
        case c: CollectList => Some(c.child)
        case c: CollectSet => Some(c.child)
        case _ => None
      }
    case _ => None
  }

  /** First field provably tie-free within each collected group: the
    * hosting Aggregate's input is itself an Aggregate grouped by
    * EXACTLY the outer grouping attrs plus the first-field attr — one
    * input row per first-field value per group (Filter/Project/alias
    * nodes between are row-preserving / row-reducing, which keeps
    * distinctness).
    */
  private def firstFieldDistinct(f: Expression, host: LogicalPlan): Boolean = (f, host) match {
    case (ar: AttributeReference, a: Aggregate) =>
      def strip(p: LogicalPlan): LogicalPlan = p match {
        case fl: Filter => strip(fl.child)
        case pr: Project => strip(pr.child)
        case sa: SubqueryAlias => strip(sa.child)
        case other => other
      }
      val aKeys = a.groupingExpressions.flatMap {
        case k: AttributeReference => Some(k.exprId)
        case _ => None
      }
      aKeys.size == a.groupingExpressions.size && (strip(a.child) match {
        case b: Aggregate =>
          val bKeys = b.groupingExpressions.flatMap {
            case k: AttributeReference => Some(k.exprId)
            case _ => None
          }
          bKeys.size == b.groupingExpressions.size &&
            bKeys.toSet == (aKeys :+ ar.exprId).toSet
        case _ => false
      })
    case _ => false
  }

  /** All array sorts in `df`'s analyzed plan whose NULL placement
    * could diverge cross-engine, as `fn:rule:arraySql` strings.
    */
  private[operators] def offendingArraySorts(df: DataFrame): Set[String] =
    offendingArraySortsIn(df.queryExecution.analyzed)

  private[operators] def offendingArraySortsIn(plan: LogicalPlan): Set[String] = {
    val facts = NullProof.collectFacts(plan)
    val bad = scala.collection.mutable.Set.empty[String]

    def prove(e: Expression, scope: LogicalPlan, grouped: Boolean): Boolean =
      NullProof.nonNull(e, facts, scope, grouped, 0)

    def tag(fn: String, rule: String, arr: Expression): String = {
      val what = arr match {
        case ar: AttributeReference => ar.name
        case a: Alias => a.name
        case other => other.sql.take(60)
      }
      s"$fn:$rule:$what"
    }

    def check(fn: String, topDiverges: Boolean, arr: Expression,
        host: LogicalPlan, scope: LogicalPlan, grouped: Boolean): Unit = {
      arr.dataType match {
        case ArrayType(et, containsNull) =>
          val base = resolve(arr, facts, scope)
          val elemsNonNull = !containsNull || (base match {
            case _ if collectChild(base).isDefined => true // collect_* skips NULL inputs
            case ca: CreateArray => ca.children.forall(prove(_, scope, grouped))
            case _ => false
          })
          if (topDiverges && !elemsNonNull) bad += tag(fn, "top-null", arr)
          et match {
            case st: StructType =>
              val fieldsOk = collectChild(base).map(c => resolve(c, facts, scope)) match {
                case Some(cns: CreateNamedStruct) =>
                  val vs = cns.valExprs
                  vs.nonEmpty && prove(vs.head, scope, grouped = false) &&
                    (vs.tail.forall(prove(_, scope, grouped = false)) ||
                      firstFieldDistinct(vs.head, host))
                case _ =>
                  // no construction site in reach: only the static
                  // schema can prove the fields
                  st.fields.forall(f => !f.nullable && !deepNullableParts(f.dataType))
              }
              if (!fieldsOk) bad += tag(fn, "struct-field", arr)
            case nested if deepNullableParts(nested) =>
              bad += tag(fn, "nested-null", arr)
            case _ => ()
          }
        case _ => () // unresolved/non-array: nothing to sort
      }
    }

    def walk(node: LogicalPlan): Unit = {
      val grouped = node match {
        case a: Aggregate => a.groupingExpressions.nonEmpty
        case _ => false
      }
      val scope = node.children match {
        case Seq(only) => only
        case _ => node
      }
      node.expressions.foreach { root =>
        root.foreach {
          case sa: SortArray =>
            // classify by the FOLDED order value: only a literal FALSE
            // is the DESC-agrees case (both engines place NULLs last).
            // TRUE diverges; a NULL or non-literal order — rejected by
            // the analyzer for API-built plans but expressible in raw
            // Catalyst — is treated as DIVERGENT so the odd shape is
            // flagged for audit instead of riding the safe branch
            // (r19 ADVICE, red-proofed below on a hand-built plan)
            val ord: Any =
              if (sa.ascendingOrder.foldable) sa.ascendingOrder.eval() else null
            check("sort_array", topDiverges = ord != false, sa.base, node, scope, grouped)
          case as: ArraySort =>
            if (isDefaultComparator(as.function))
              // default comparator: top-level NULLs LAST in both
              // engines — only the struct-field surface diverges
              check("array_sort", topDiverges = false, as.argument, node, scope, grouped)
            else
              // a custom comparator carries its own NULL semantics:
              // treat every nullable surface as divergent
              check("array_sort[custom]", topDiverges = true, as.argument, node, scope, grouped)
          case sq: SubqueryExpression => walk(sq.plan)
          case _ => ()
        }
      }
      node.children.foreach(walk)
    }

    walk(plan)
    bad.toSet
  }

  // ---------------------------------------------------------------- //
  // the empirical divergence matrix (Spark side, live)                //
  // ---------------------------------------------------------------- //

  test("divergence matrix pin: Spark's NULL placements (DuckDB 1.0.0 side documented in the class doc)") {
    val r = spark.sql(
      "SELECT array_sort(array(3, NULL, 1)) AS a, " +
        "sort_array(array(3, NULL, 1)) AS b, " +
        "sort_array(array(3, NULL, 1), false) AS c, " +
        "array_sort(array(named_struct('a', 1, 'b', 2), named_struct('a', 1, 'b', CAST(NULL AS INT)))) AS st")
      .head()
    assert(r.getSeq[Any](0) == Seq(1, 3, null), "array_sort: NULL elements LAST (DuckDB agrees)")
    assert(r.getSeq[Any](1) == Seq(null, 1, 3), "sort_array ASC: NULL elements FIRST (DuckDB puts them LAST — the divergence this spec exists for)")
    assert(r.getSeq[Any](2) == Seq(3, 1, null), "sort_array DESC: NULL elements LAST (DuckDB agrees)")
    val structs = r.getSeq[org.apache.spark.sql.Row](3)
    assert(structs.map(_.toString) == Seq("[1,null]", "[1,2]"),
      "a NULL struct FIELD sorts FIRST on a first-field tie in Spark (DuckDB sorts it LAST — divergent in both functions, both directions)")
  }

  // ---------------------------------------------------------------- //
  // falsifiability: the detector itself                               //
  // ---------------------------------------------------------------- //

  test("red-proof: the detector flags both divergent shapes") {
    val s = spark; import s.implicits._
    val df = Seq((1L, Some(2.0), "a"), (2L, None, "b"), (3L, Some(1.0), "a")).toDF("k", "v", "g")
    // shape 1: sort_array ASC over possibly-NULL elements
    val top = df.select(sort_array(array(col("v"))).as("sorted"))
    assert(offendingArraySorts(top).exists(_.startsWith("sort_array:top-null")),
      "sort_array ASC over a nullable element must flag — Spark places the NULL first, DuckDB last")
    // shape 2: struct elements with an unproven non-first field (the
    // collect skips NULL STRUCTS, not structs with NULL fields)
    val field = df.groupBy("g")
      .agg(array_sort(collect_list(struct(col("k"), col("v")))).as("items"))
    assert(offendingArraySorts(field).exists(_.startsWith("array_sort:struct-field")),
      "a nullable non-first struct field must flag — on a first-field tie the engines place it oppositely")
    // and an unproven FIRST field is flagged even with proven later fields
    val firstField = df.groupBy("g")
      .agg(array_sort(collect_list(struct(col("v"), col("k")))).as("items"))
    assert(offendingArraySorts(firstField).exists(_.startsWith("array_sort:struct-field")),
      "a nullable FIRST struct field shifts the whole array order, not just ties")
  }

  test("red-proof: a foldable-but-NULL sort_array order flags instead of riding the DESC-agrees branch (r19 ADVICE)") {
    // not constructible through the public API (the analyzer rejects a
    // non-boolean-literal order), but raw Catalyst expresses it — and
    // the pre-r20 classifier evaluated `asc` to false on it, silently
    // filing the unknown shape under "DESC, engines agree"
    val elem = AttributeReference("v", ArrayType(DoubleType, containsNull = true))()
    val plan = Project(
      Seq(Alias(SortArray(elem, Literal(null, BooleanType)), "s")()),
      LocalRelation(Seq(elem)))
    assert(offendingArraySortsIn(plan).exists(_.startsWith("sort_array:top-null")),
      "a NULL/non-boolean sort order must be flagged for audit, not classified as the agreeing DESC case")
  }

  test("the detector accepts every proof shape the convention prescribes") {
    val s = spark; import s.implicits._
    val df = Seq((1L, Some(2.0), "a"), (2L, None, "b"), (3L, Some(1.0), "a")).toDF("k", "v", "g")
    def ok(q: DataFrame, what: String): Unit = {
      val off = offendingArraySorts(q)
      assert(off.isEmpty, s"$what flagged: $off")
    }
    // collect_list skips NULL inputs — atomic elements are non-null
    ok(df.groupBy("g").agg(sort_array(collect_list(col("v"))).as("vs")),
      "sort_array over collect_list of a nullable column (NULL inputs never reach the array)")
    // array_sort's top-level NULL placement AGREES cross-engine
    ok(df.select(array_sort(array(col("v"))).as("sorted")),
      "array_sort over nullable atomic elements (both engines place top-level NULLs last)")
    // so does sort_array DESC
    ok(df.select(sort_array(array(col("v")), asc = false).as("sorted")),
      "sort_array DESC over nullable atomic elements (both engines place NULLs last)")
    // contract-non-null struct fields
    val t = graft.Tables(spark, sfDir, "lineitem")
    ok(t.groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("items")),
      "struct of contract-non-null base columns (the q75 nest-build shape)")
    // map_keys: non-null atomic keys, containsNull = false
    ok(graft.Tables(spark, sfDir, "events")
        .select(array_sort(map_keys(expr("from_json(props, 'map<string,string>')"))).as("ks")),
      "array_sort over map_keys (map keys cannot be NULL)")
    // tie-free first field: the input aggregate groups by exactly the
    // outer key plus the first field, so the comparator never reaches
    // the unprovable avg (which IS NULL when a group's every v is) —
    // the q31 centroid shape
    ok(df.select(col("g"), posexplode(array(col("v"), col("v"))).as(Seq("i", "x")))
        .groupBy("g", "i").agg(avg("x").as("m"))
        .groupBy("g")
        .agg(expr("transform(array_sort(collect_list(struct(i, m))), s -> s.m)").as("cv")),
      "tie-free first field via the grouped-input shape (posexplode pos per outer key)")
  }

  // ---------------------------------------------------------------- //
  // the gate: every declared query                                    //
  // ---------------------------------------------------------------- //

  test("every declared query's array sorts are placement-safe or exempted with a reason") {
    val offenders = SparkEntry.specs.flatMap { q =>
      try {
        val bad = offendingArraySorts(q.fn(spark, sfDir))
        structurallySafeArraySort.get(q.name) match {
          case None =>
            if (bad.nonEmpty) Some(s"${q.name}: ${bad.toSeq.sorted.mkString(", ")}") else None
          case Some((_, pinned)) =>
            if (bad == pinned) None
            else Some(s"${q.name}: exemption pins {${pinned.toSeq.sorted.mkString(", ")}} " +
              s"but scan found {${if (bad.isEmpty) "nothing — dead entry" else bad.toSeq.sorted.mkString(", ")}}")
        }
      } catch {
        case e: Throwable => Some(s"${q.name} (failed to analyze: ${e.getMessage.take(100)})")
      }
    }
    assert(
      offenders.isEmpty,
      s"cross-engine divergent array-sort NULL placement (see the class-doc matrix): prove the " +
        s"elements/fields non-null (filter, containsNull-free source, contract columns), use " +
        s"array_sort/sort_array DESC where the placement agrees, or allowlist with the " +
        s"structural reason:\n  " + offenders.mkString("\n  "))
  }

  // ---------------------------------------------------------------- //
  // the census: no site escapes the walk silently                     //
  // ---------------------------------------------------------------- //

  test("src/main array_sort/sort_array census matches the pinned audit (non-walkable sites carry reasons)") {
    // Per-file token counts (comments included — the pin is a
    // tripwire, not semantics). Non-walkable sites and why they are
    // safe:
    //  - pipeline/Svm.scala ×2 (assembleFeatures, behind
    //    localCheckpoint + eager sig check): same matrix, same
    //    uniqueness; the probe_sig distinct-count require() is the
    //    loud guard.
    //  - operators/SimilarityOps.scala ×1 of 2 (line ~373, EAGER
    //    k-means centroid pull): struct(i, m) where i is the grouped
    //    posexplode position — unique per c0 group (the walkable twin
    //    at line ~99 carries the same shape and IS proven by the
    //    tie-free rule).
    // Everything else is reachable from a declared query's analyzed
    // plan and covered by the gate test above.
    val pinned = Map(
      "pipeline/Svm.scala" -> 2,
      "operators/SimilarityOps.scala" -> 2,
      "operators/DedupOps.scala" -> 1,
      "operators/CurationOps.scala" -> 3,
      "operators/TextOps.scala" -> 1,
      "operators/Relational.scala" -> 3)
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"census must run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val pat = java.util.regex.Pattern.compile("array_sort|sort_array")
    val found = files(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val m = pat.matcher(text)
      var n = 0
      while (m.find()) n += 1
      if (n > 0) Some(root.toPath.relativize(f.toPath).toString -> n) else None
    }.toMap
    assert(found == pinned,
      s"array_sort/sort_array census moved — a new site must either be reachable by the " +
        s"declared-query walk (then the gate above already covers it) or get a written " +
        s"reason in this pin.\n  pinned: ${pinned.toSeq.sorted}\n  found:  ${found.toSeq.sorted}")
  }
}
