package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A Cypher-subset front end covering the query class the reference's LLM
  * actually emits against its schema prompt (`first-graph.py:63-144`):
  * match a node by label and/or property equality, optionally expand a
  * bounded number of hops downward (optionally constrained to one
  * relationship type — or an alternation `:A|B` of several, Cypher's
  * multi-type pattern — as the schema prompt's typed relationships
  * invite),
  * filter the matched node AND/OR the connected node with WHERE
  * comparisons (AND/OR, no parens), return the matched node, a property
  * projection of it, its connected nodes (whole or property-projected),
  * or a per-root count, with optional ORDER BY and LIMIT. The serving
  * shell can hand queries of this shape straight to the engine — no Neo4j.
  *
  * Grammar (case-insensitive keywords; `c` is the hop pattern's connected
  * variable):
  * {{{
  *   MATCH (m[:Label] [{prop: 'value'[, ...]}])
  *     [ [OPTIONAL MATCH (m)] -[[r][:REL_TYPE[|REL_TYPE2...]][*1..K]]->(c[:Label] [{prop: 'value'[, ...]}]) ]
  *     // the hop pattern may also point INWARD (`<-[…]-`, traversal over
  *     // reversed edges) or be UNDIRECTED (`-[…]-`, each hop follows an
  *     // edge either way); arrows on both ends are a parse error.
  *     // `r` binds the relationship (single-hop only — on a var-length
  *     // pattern Cypher's r is a LIST, which type()/count() would
  *     // misread, so the combination is rejected)
  *   [WHERE (m|c).prop <op> ('value'|number|['v'[, ...]]) [AND|OR ...]
  *    | (m|c).prop <op> (m|c).prop      // cross-variable comparison
  *    | type(r) <op> ('value'|['v'[, ...]])
  *    | [NOT] (m)-[[:REL_TYPE][*1..K]]->([:Label])]
  *     op ∈ {=, <>, <, <=, >, >=, =~, STARTS WITH, ENDS WITH, CONTAINS, IN}
  *     (`=~ 'regex'` matches the WHOLE string, Neo4j's rule); the LHS
  *     property may wrap in toLower(...)/toUpper(...) (string literals
  *     and lists only — the case-insensitive-match staple)
  *     | (m|c).prop IS [NOT] NULL | exists((m|c).prop)   // the legacy
  *     pre-Neo4j-4.x property-existence form, ≡ IS NOT NULL
  *     | [NOT] EXISTS { [MATCH] (m)-[[:REL][*1..K]]->([:Label]) }
  *     // the modern (Neo4j 5.x) existential-subquery spelling of the
  *     // pattern-existence predicate — normalized to the bare form, so
  *     // both spellings land in the same semi/anti-join plan; like the
  *     // bare form it must be the entire WHERE clause
  *     ; any comparison may carry a NOT prefix
  *     (negated after evaluation — NOT null stays null, Cypher's rule)
  *   [WITH (m|m.prop)[, m.prop ...],
  *    (count([DISTINCT] c|r|*|c.prop) | (sum|avg|min|max)(c.prop)) AS alias
  *      [, <another aggregate> AS alias ...]  // SEVERAL aggregates — one
  *      // grouped pass, each RETURNed under its own alias
  *    [WHERE alias <cmp> number]   // numeric HAVING on any NAMED
  *    count/sum/avg alias (min/max keep string collation)
  *    [ORDER BY (m.prop|alias) [ASC|DESC][, ...]] [LIMIT n]  // top-k
  *    // groups at the WITH stage — ≡ the post-RETURN spelling (grouped
  *    // rows project 1:1); at most one ORDER BY/LIMIT per query
  *    [WHERE alias <cmp> number]]  // the openCypher subclause order
  *    // (WHERE may also follow ORDER BY/LIMIT, Neo4j's grammar). One
  *    // WHERE per WITH stage, either position. Semantics follow the
  *    // position, per openCypher: before ORDER BY/LIMIT it filters the
  *    // groups first (SQL HAVING); after a LIMIT it filters the
  *    // LIMITED rows (Neo4j applies WITH's ORDER BY/LIMIT before its
  *    // WHERE) — the two only differ when a LIMIT is present
  *   [WITH [DISTINCT] <col>[, …][, agg(<col>|*) AS alias[, …]]
  *    [WHERE …] [ORDER BY …] [LIMIT n]]*  // CHAINED stages: any number
  *    // of further WITH stages, each a flat grouped aggregate (or, with
  *    // no aggregates, a projection/filter/dedupe) over the PREVIOUS
  *    // stage's bare-named columns — aggregate → re-filter →
  *    // re-aggregate, the NL→Cypher loop staple. Numeric lineage is
  *    // tracked across stages (sum/avg over a string-collation column
  *    // and numeric WHERE on a min/max-of-string alias are named
  *    // errors, as are out-of-scope references). The closing RETURN may
  *    // itself aggregate (`RETURN n, count(*) AS c`) — an IMPLICIT
  *    // final stage grouped on its non-aggregate items, Cypher's rule
  *   RETURN [DISTINCT] m | m.prop[, m.prop ...] | m, c | m.prop, c
  *          | m.prop[, ...], c.prop[, ...] | c.prop[, ...]
  *          | [m.prop[, ...],] type(r)[, c.prop[, ...]]
  *          | m, count([DISTINCT] c|*) | m.prop[, ...], count([DISTINCT] c|*)
  *          | [m[.prop[, ...]],] type(r), count([DISTINCT] c|r|*)
  *          | m[.prop[, ...]], collect([DISTINCT] c.prop)
  *          | m[.prop[, ...]], (sum|avg|min|max)(c.prop)
  *          // GLOBAL aggregate form — EVERY RETURN item is an aggregate,
  *          // so per Cypher's grouping rule there are no grouping keys and
  *          // the answer is ONE summary row ("how many X are there" — the
  *          // single most common LLM emission):
  *          |   count([DISTINCT] m|c|r) | count(*)
  *            | count([DISTINCT] (m|c).prop)
  *            | (sum|avg|min|max)((m|c).prop) | collect([DISTINCT] (m|c).prop)
  *            [, <another aggregate> ...]     // several aggregates may
  *            // combine in one row (RETURN count(n), min(n.name)); m-side
  *            // property aggregates are hop-less, c-side ones require the
  *            // hop pattern, and count(m)/count(DISTINCT m) over a hop
  *            // pattern count bindings / distinct matched roots. Two
  *            // aggregates of the same kind get positionally-suffixed
  *            // output columns (n_connected, n_connected_2) — alias with
  *            // AS for stable names
  *          | (m | m.prop[, ...]), size((m)-[[:REL][*1..K]]->([:Label]))
  *            [AS alias]   // — or its Neo4j-5 spelling
  *            `COUNT { [MATCH] (m)-[…]->(x[:Label]) }`, normalized onto
  *            the size() path (an in-subquery WHERE is rejected)
  *            // the degree EXPRESSION — one row per matched
  *            // root (identity semantics, zero-degree roots included;
  *            // desugars to the OPTIONAL expansion + identity-grouped
  *            // count, with the WHERE kept on the ROOT scan); output
  *            // column `degree` unless aliased
  *          | m[.prop[, ...]], coalesce(c.prop, 'default')   // null →
  *            default applied before DISTINCT/ORDER BY (OPTIONAL staple)
  *          | labels(m|c)   // ≡ the label column under `m_labels`/
  *            `c_labels` (single-label model: the list IS the label)
  *          | (after WITH) m.prop[, ...], alias
  *          // scalar string functions over an m property, on the
  *          // hop-less aggregate-free form (transformed BEFORE
  *          // DISTINCT/ORDER BY — Cypher applies RETURN expressions
  *          // first; output column `<fn>_<prop>` unless aliased;
  *          // ORDER BY the alias sorts by the transformed value):
  *          | toLower|toUpper|trim(m.prop) | size(m.prop)  // string len
  *            | toInteger|toFloat(m.prop)  // null on non-numeric
  *            | replace(m.prop, 'from', 'to')  // all occurrences
  *            | substring(m.prop, start[, len])  // 0-BASED, Cypher's rule
  *            | left|right(m.prop, n)
  *          // searched CASE (same hop-less aggregate-free contract;
  *          // first true WHEN wins, null comparisons fall through, no
  *          // ELSE → null; output column `case_result` unless aliased;
  *          // one CASE item per query):
  *          | CASE WHEN m.prop <op> lit THEN 'v' [WHEN …]*
  *            [ELSE 'v0'] END [AS alias]
  *     every property/aggregate RETURN item (incl. type(r)) may take
  *     `AS alias`
  *   [ORDER BY key [ASC|DESC] [, key [ASC|DESC] ...]]
  *     key ∈ {m.prop, c.prop, count(c|*), type(r), alias} — a key LIST,
  *     most-significant first; every key must be projected in RETURN
  *   [SKIP n] [LIMIT n]
  *
  *   // shortest path between endpoint patterns (one row per connected
  *   // (a, b) pair at its minimum length; `*` = unbounded fixpoint,
  *   // `*1..K` bounded, no range = single hop). `allShortestPaths` is
  *   // accepted as a synonym: the engine projects endpoint properties
  *   // and length(p) only, so all min-length paths between a pair
  *   // collapse to the same output row by construction:
  *   MATCH p = shortestPath((a[:L1] [{…}])-[[:REL][*[1..K]]]->(b[:L2] [{…}]))
  *   RETURN (a|b).prop[, ...][, length(p)]
  *   [ORDER BY (a|b).prop | length(p) [ASC|DESC]] [LIMIT n]
  *
  *   // N-step chain (≥2 steps, bound intermediate variables — "W of X
  *   // of Y of Z" over a deep hierarchy):
  *   MATCH (a[:L1] [{…}])-[[:R1][*1..K]]->(b[:L2] [{…}])-[[:R2][*1..K]]->(c[:L3] [{…}])[-[[:R][*1..K]]->(d…) ...]
  *   [WHERE (a|b|c|…).prop <op> lit [AND|OR ...]]
  *   RETURN [DISTINCT] (a|b|c|…).prop[, ...]
  *   [ORDER BY (a|b|c|…).prop [ASC|DESC]] [SKIP n] [LIMIT n]
  *
  *   // two INDEPENDENT node patterns (Cypher's cartesian composition —
  *   // the entity-comparison form: "find pairs of X and Y where ...");
  *   // a cross-variable equality makes the product an equi-join under
  *   // Catalyst, anything else stays a label-filtered nested loop:
  *   MATCH (a[:L1] [{…}]) MATCH (b[:L2] [{…}])
  *   [WHERE (a|b).prop <op> (lit | (a|b).prop) [AND|OR ...]]
  *   RETURN [DISTINCT] (a|b).prop[, ...]
  *   [ORDER BY (a|b).prop [ASC|DESC]] [SKIP n] [LIMIT n]
  *
  *   // list parameterization ("any of these") — every `= x` comparison
  *   // in the body rewrites to IN-list membership before parsing:
  *   UNWIND ['v1'[, ...]] AS x <any MATCH query comparing v.prop = x>
  *
  *   // whole-query union (all branches must return the same columns;
  *   // UNION dedupes, UNION ALL keeps the bag, mixing forms rejected;
  *   // branch-level ORDER BY/SKIP/LIMIT rejected as in Cypher):
  *   <query> UNION [ALL] <query> [UNION [ALL] <query> ...]
  * }}}
  * `WITH <keys>, count(…) AS alias WHERE alias <op> n` is Cypher's
  * aggregate-then-filter pipeline (SQL's HAVING): grouping is by node
  * IDENTITY when the WITH binds `m` (two roots sharing every projected
  * value keep separate counts) and by the bound properties otherwise; the
  * alias becomes the output column and may key ORDER BY. `count(*)`
  * counts result ROWS — under OPTIONAL MATCH an unmatched root's null row
  * counts 1 where `count(c)` answers 0, and without a hop pattern
  * `RETURN m.prop, count(*)` is the grouped node census. `IN` takes a
  * bracketed all-string or all-numeric list (numeric lists compare
  * through the same try_cast lens as scalar numerics; `IN []` matches
  * nothing).
  * A hop pattern without an explicit range (`-[:HAS_ORDER]->`, the most
  * common LLM emission) is the single-hop form `*1..1`; the GQL
  * quantified-path spelling `-[:R]->{1,K}` (Neo4j 5.9+) normalizes to
  * `-[:R*1..K]->` ({0,K}/{,K} would include the root and a deeper lower
  * bound cannot ride the min-depth expansion — both rejected by name). An UNQUOTED numeric
  * literal compares numerically: the property value is cast to double and
  * non-numeric values drop out (Cypher's string-vs-number comparison is
  * null, which filters the row — same observable behavior).
  * `WHERE [NOT] (m)-[...]->([:Label])` is Cypher's pattern-existence
  * predicate ("roots with/without such a connection"): a semi-join (anti-
  * join under NOT) of the roots against the hop expansion — never a
  * per-root subquery. It may stand alone or AND-combine with comparison
  * conditions (`WHERE m.prop = '…' AND NOT (m)-[:R]->()` — the
  * comparisons filter the root scan, the pattern conjoins as the same
  * semi/anti-join); a pattern term under OR is rejected, at most one
  * pattern term per clause, and the query must not also bind a connected
  * variable in MATCH. Consecutive MATCH clauses whose follow-up re-anchors
  * the variable the previous pattern just bound (`MATCH (a)-[…]->(b)
  * MATCH (b)-[…]->(c)`, Cypher's linear multi-clause composition) are
  * spliced into the equivalent chain pattern at parse time — repeated
  * labels/properties on the shared variable merge, conflicting labels
  * error, OPTIONAL junctions and fresh-variable clauses are untouched.
  * A comma-separated pattern list in one MATCH (`MATCH p1, p2`) rewrites
  * to the same clause boundaries (Cypher's n-ary pattern list IS a
  * clause-level join): linear lists chain-splice, the hop-less
  * comma-cartesian lands in the dual-MATCH form, and a BRANCHING list
  * (patterns sharing a root) is rejected rather than mis-joined.
  * A comparison may also be CROSS-VARIABLE (`WHERE c.name < m.name`,
  * Cypher's property-to-property predicate): both sides reference bound
  * pattern variables and the comparison runs column-to-column per (m, c)
  * binding in the property's native string collation — one vectorized
  * filter over the expansion, never a per-root probe. A side referencing
  * the connected variable routes the whole clause to the binding-level
  * filter path, same as a literal comparison on `c` would.
  * `collect([DISTINCT] c.prop)` aggregates the surviving bindings' property
  * values per root group (Cypher's list aggregation), returned as the
  * SORTED comma-joined string column `collected` (the engine's
  * deterministic nest serialization — same contract as
  * [[GraphOps.nestByRoot]]; a raw list would be shuffle-order-dependent).
  * Zero surviving bindings collect to the empty string (Cypher's `[]`).
  * `sum/avg(c.prop)` aggregate numerically through the same try_cast lens
  * as numeric comparisons (non-numeric values become null and drop out —
  * Cypher's rule; a sum over zero surviving values is 0, Neo4j's sum);
  * `min/max(c.prop)` keep the property's native string collation. Every
  * property or aggregate RETURN item may take `AS alias`: ordering and
  * dedup run on the canonical output columns and the rename happens last,
  * so an alias can never change WHICH rows come back — and `ORDER BY
  * <alias>` resolves through the item it names (an aggregate alias sorts
  * groups by the aggregate, the `ORDER BY cnt DESC` staple).
  * A hop pattern may bind a RELATIONSHIP variable (`-[r]->`, `-[r:T]->`):
  * the expansion switches to a one-row-per-EDGE bindings relation
  * (Cypher's bag semantics — parallel relationships bind separately,
  * where the default kernel's min-depth dedup would collapse them)
  * carrying the traversed edge's type as the `r_type` output column.
  * `type(r)` projects it (`RETURN type(r), count(*)` is the schema
  * census — grouping keys per Cypher's rule), `WHERE type(r) <op> …`
  * filters bindings by it, `count(r)` counts traversed relationships
  * (≡ `count(DISTINCT r)`: each binding IS a distinct edge), and
  * `ORDER BY type(r)` sorts by it when projected. An untyped `-[r]->`
  * still follows the downward containment relation (HAS_*) — binding a
  * variable never widens WHICH edges are traversed, only what the query
  * can say about them. On an incoming (`<-[r]-`) or undirected pattern
  * type(r) answers the TRUE stored type of the traversed edge.
  * The same substrate carries the edge's PROPERTY map (`EdgeRow.props`,
  * the schemaless map the write surface sets): an inline map
  * `-[r:T {grade: 'a'}]->` desugars to per-edge equality conditions
  * (and forces the typed-bindings substrate even without an explicit
  * variable), `WHERE r.prop <op> …` / `r.prop IS [NOT] NULL` filter the
  * bindings through the usual numeric/case-fold lenses (a missing key
  * is null — the binding drops), and `RETURN r.prop` projects it per
  * binding (output column `r_<prop>`; a grouping key under aggregates —
  * the `RETURN r.grade, count(r)` weighted census — and an ORDER BY
  * key when projected). Ranged patterns and multi-segment chains
  * reject all three forms by name (per-edge talk on a var-length
  * binding is Cypher's own restriction).
  * `OPTIONAL MATCH` makes the hop pattern left-outer (Cypher's optional
  * semantics): every root matching the first MATCH pattern is returned,
  * with the connected columns null when no binding exists. A WHERE clause
  * on an optional query filters the PATTERN BINDINGS (Cypher attaches the
  * WHERE to the OPTIONAL MATCH clause it follows) — a root none of whose
  * bindings survive still returns one row with null connected columns, and
  * `count(c)` counts only surviving bindings (0 when none).
  * `RETURN DISTINCT` dedupes the projected rows (Cypher's bag → set
  * projection); `count(DISTINCT c)` counts distinct connected NODES (by
  * node identity) rather than (m, c) bindings.
  * Property projections are honored on hop patterns too: `RETURN m.prop,
  * count(connected)` groups the expansion by the requested property values
  * (Cypher's grouping rule — every non-aggregate RETURN item is a grouping
  * key), and `MATCH (m)-[*1..k]->(c) RETURN m[.prop]` returns only roots
  * for which the pattern actually matches (≥1 node reachable within k
  * hops), per Cypher's existence semantics. WHERE conditions on the
  * CONNECTED variable filter the (m, c) pattern bindings themselves —
  * `WHERE c.name < '2' RETURN m.name` keeps exactly the roots with a
  * matching connected node (≡ SQL EXISTS), `RETURN m.name, count(c)`
  * counts only the matching bindings, and `RETURN m.name, c.content`
  * projects one row per surviving binding.
  * WHERE mixes AND and OR at standard precedence (AND binds tighter) and
  * admits PARENTHESIZED groups and `NOT (...)` over whole groups: the
  * clause is parsed to a boolean tree, negation is pushed to the leaves
  * by De Morgan (exact in Cypher's three-valued logic, so null-dropping
  * semantics survive), and the tree is distributed into the engine's OR
  * of AND-groups — parentheses cost nothing at runtime.
  * Plus the maintenance forms (the WRITE surface — run through
  * [[runWrite]], which returns the mutated graph alongside the summary):
  *  - `MATCH (n) WHERE n.<tag> = true DETACH DELETE n` (the reference's
  *    `deleteneo.py:10-12`) → [[GraphOps.dropBatch]];
  *  - `MATCH (m[:Label] [{…}]) [WHERE …] SET m.content = 'value'` →
  *    [[GraphOps.updateContent]] (A18's join-update; only `content` is
  *    writable — name/label are node identity);
  *  - `CREATE (n:Label {name: '…'[, content: '…'][, docnbr: '…']})` →
  *    [[GraphOps.upsert]] with the deterministic id (match-or-create:
  *    re-running the same CREATE is a no-op);
  *  - `MERGE (n:Label {…})` — accepted as a synonym of CREATE: with
  *    deterministic ids the upsert kernel IS match-or-create, which is
  *    exactly MERGE's contract.
  */
object CypherLite {

  /** TEST-ONLY escape hatch (r15): force the per-path relationship-
    * isomorphism form even on the single-partner motif, so ChainIsoSpec
    * can measure the unavoidable-set collapse's shuffle-byte advantage
    * A/B on the SAME query (the two forms are semantically equal there —
    * the spec asserts that too). Never set outside tests. A
    * DynamicVariable (r16, ADVICE): the build runs suites in parallel in
    * one JVM, and a plain shared var flipped mid-test would perturb a
    * concurrent suite's chain plans (semantics-safe — the collapse is a
    * pure optimization — but it skews shuffle-byte A/Bs); thread-local
    * scoping via `withValue` confines the flip to the spec's own calls.
    */
  private[graph] val disableUnavoidableCollapse =
    new scala.util.DynamicVariable[Boolean](false)

  sealed trait Statement
  /** One comparison; `onConn` = it references the hop pattern's connected
    * variable rather than the matched one; `numeric` = the literal was
    * unquoted, so the comparison is numeric (property cast to double).
    */
  final case class Cond(prop: String, op: String, value: String,
      onConn: Boolean = false, numeric: Boolean = false,
      // IN-list elements (op == "IN"); `numeric` = the list was unquoted
      // numerics, so membership compares numerically
      values: Seq[String] = Seq.empty,
      // `NOT <comparison>`: the comparison column is negated AFTER
      // evaluation, so a null comparison stays null (Cypher: NOT null is
      // null — the row drops either way)
      negated: Boolean = false,
      // `type(r) <op> literal`: the comparison targets the traversed
      // edge's type (the bindings' `r_type` column), not a node property;
      // prop is empty and onConn rides true so the binding-level filter
      // path engages
      onRel: Boolean = false,
      // `r.prop <op> literal` (and the `-[r:T {prop: 'v'}]->` inline-map
      // desugar): the comparison targets the traversed edge's PROPERTY —
      // `element_at(r_props, prop)` on the typed-bindings substrate
      // (EdgeRow.props is a string map, so the same string/numeric
      // comparison lenses apply; a missing key is null and the row drops,
      // Cypher's rule). onConn rides true like onRel so the binding-level
      // filter path engages.
      onRelProp: Boolean = false,
      // cross-VARIABLE comparison `v1.p1 <op> v2.p2` (Cypher's property-
      // to-property predicate — "connected nodes whose name sorts before
      // the root's"): the RHS is another bound variable's property, not a
      // literal. (prop, onConn) describe the LHS as usual; (crossProp,
      // crossOnConn) describe the RHS. Always a native string-collation
      // comparison (node properties are strings in this model); IN and
      // numeric forms don't arise (CrossCondRe admits neither).
      crossProp: Option[String] = None,
      crossOnConn: Boolean = false,
      // `toLower(v.prop)` / `toUpper(v.prop)` case-fold wrapper on the
      // LHS (normalized to "tolower"/"toupper"): the property column is
      // folded BEFORE the comparison — Cypher's case-insensitive-match
      // staple. Only valid with string literals/lists (a numeric
      // comparison through a case fold is a parse error, not a coercion).
      fn: Option[String] = None)

  /** Pattern-existence predicate `WHERE [NOT] (m)-[[:REL][*1..K]]->([:Label])`:
    * keep exactly the roots with (without, under NOT) a node reachable
    * within `hops` typed edges, optionally constrained to a target label.
    */
  final case class ExistsPat(negated: Boolean, relType: Option[String],
      hops: Int, connLabel: Option[String],
      // `size((m)-[:R]->([:L])) <op> N` (r16) — the degree-THRESHOLD
      // filter ("X with at least N Y"). Single-hop only: one-hop paths
      // ≡ edges, so the per-root edge count is exactly Cypher's size()
      // value; zero-degree roots are kept via a left join (op `< N`
      // must answer them). None = plain existence.
      threshold: Option[(String, Int)] = None)

  sealed trait RetItem
  case object RetVar extends RetItem // the whole matched node
  final case class RetProp(prop: String) extends RetItem // m.prop
  /** A scalar string function over an m-side property projection —
    * `toLower/toUpper/trim/size/replace/substring/left/right(m.prop, …)`.
    * Supported on the hop-less, aggregate-free projection form, where the
    * transformed column is projected BEFORE DISTINCT/ORDER BY, so dedup
    * and ordering see the transformed values (Cypher's rule). `fn` is
    * Locale.ROOT-lowercased at parse time; `args` are the extra literal
    * arguments in query order (already validated by the parse regex).
    */
  final case class RetPropFn(fn: String, prop: String,
      args: Seq[String] = Seq.empty) extends RetItem
  /** A scalar string function over the CONNECTED variable's property
    * (r14: `RETURN toUpper(c.name)`, `substring(c.content, 0, 40)` — the
    * tidy-up projections LLMs wrap around the far end of a hop).
    * Computed on the bindings relation BEFORE DISTINCT/ORDER BY
    * (Cypher's rule), canonical column `<fn>_c_<prop>` (namespace-
    * disjoint from the m-side `<fn>_<prop>`), null-transparent under
    * unmatched OPTIONAL bindings. Aggregate mixes reject by name — a
    * transformed grouping key is a different query than the bare one.
    */
  final case class RetConnFn(f: RetPropFn) extends RetItem
  /** `CASE WHEN m.prop <op> lit THEN 'v' [WHEN …]* [ELSE 'v0'] END` — the
    * searched CASE expression over matched-node comparisons (the
    * categorization staple). Like [[RetPropFn]]: evaluated at
    * projection time before DISTINCT/ORDER BY — hop-less on the plain
    * branch, under a hop on the ROOT select (r14) — and aggregate-free
    * (a transformed grouping key is a different query). No ELSE → null
    * (Cypher's rule); WHEN predicates reuse the WHERE comparison
    * machinery (null comparisons fall through to the next branch, as in
    * Cypher).
    */
  final case class RetCase(branches: Seq[(Cond, String)],
      default: Option[String]) extends RetItem
  case object RetConnected extends RetItem
  final case class RetConnProp(prop: String) extends RetItem // c.prop
  // r.prop — the traversed edge's property (output column `r_<prop>`,
  // `element_at(r_props, prop)` on the typed-bindings substrate; a
  // missing key projects null, Cypher's rule). Like type(r): only valid
  // with a bound single-hop relationship variable, and a grouping key
  // under aggregates.
  final case class RetRelProp(prop: String) extends RetItem
  // count([DISTINCT] connected) — distinct counts connected NODES not
  // bindings; count(*) (star) counts RESULT ROWS, which under OPTIONAL
  // MATCH includes the null row of an unmatched root (Cypher: count(*) is
  // 1 where count(c) is 0) and without a hop pattern counts matched nodes
  // per group (the hop-less `RETURN m.prop, count(*)` analytics form)
  final case class RetCount(distinct: Boolean, star: Boolean = false)
    extends RetItem
  // collect([DISTINCT] c.prop): per-group sorted comma-joined list
  final case class RetCollect(prop: String, distinct: Boolean) extends RetItem
  // sum/avg/min/max(c.prop) over the surviving bindings: sum/avg compare
  // numerically (try_cast to double; non-numeric values become null and
  // drop out — Cypher's rule — and a sum over zero values is 0); min/max
  // order by the property's native string collation
  final case class RetAggProp(fn: String, prop: String) extends RetItem
  // collect([DISTINCT] r.prop) — the edge-property list aggregate
  // (same sorted comma-joined serialization contract as [[RetCollect]]),
  // read from the typed-bindings substrate's edge-property map.
  final case class RetCollectRel(prop: String, distinct: Boolean)
    extends RetItem
  // sum/avg/min/max(r.prop) — aggregates over the traversed edges'
  // property values ("total weight per grade"): the same numeric
  // (try_cast) / string-collation lenses as [[RetAggProp]], read from
  // the typed-bindings substrate's edge-property map. Requires the
  // bound single-hop relationship variable, like every r-form.
  final case class RetAggRelProp(fn: String, prop: String) extends RetItem
  // count([DISTINCT] (m|c).prop) — counts the variable's non-null
  // PROPERTY VALUES over the surviving bindings rather than the bindings
  // themselves; DISTINCT counts distinct values ("how many kinds of X" —
  // `RETURN m.name, count(DISTINCT c.label)`). c-side valid grouped or
  // global (hop pattern required); m-side valid in the hop-less global
  // form only. Output column `n_<prop>`.
  final case class RetCountProp(distinct: Boolean, prop: String,
      onConn: Boolean) extends RetItem
  // count([DISTINCT] m) — the MATCHED-variable count, valid only in the
  // GLOBAL aggregate form (every RETURN item an aggregate → one row).
  // Hop-less it counts matched nodes (DISTINCT is a no-op: node identity
  // is already unique); over a hop pattern count(m) counts bindings and
  // count(DISTINCT m) counts distinct matched roots ("how many X have an
  // R" — the semi-join cardinality).
  final case class RetCountRoot(distinct: Boolean) extends RetItem
  // count([DISTINCT] r) — relationships traversed, on the typed-bindings
  // substrate (one row per EDGE). The plain form counts binding rows;
  // DISTINCT is HONORED as a distinct count over the edge identity
  // (root_id, c_id, r_type) — equal to the plain count whenever the
  // store's edge-key invariant holds (upsert dedups on exactly that
  // tuple), and the correctly collapsed count on a hand-built multigraph
  // input, where duplicate (src, dst, relType) rows are the same stored
  // relationship bound more than once.
  final case class RetCountRel(distinct: Boolean) extends RetItem
  // sum/avg/min/max(m.prop) — global aggregates over the MATCHED nodes
  // (hop-less only; with a hop pattern aggregate the connected variable).
  // Same numeric/collation lenses as the c-side [[RetAggProp]].
  final case class RetAggRootProp(fn: String, prop: String) extends RetItem
  // collect([DISTINCT] m.prop) — global sorted comma-joined list over the
  // matched nodes (hop-less only), same serialization as [[RetCollect]]
  final case class RetCollectRoot(prop: String, distinct: Boolean)
    extends RetItem
  // coalesce(c.prop, 'default') — the OPTIONAL MATCH staple: an unmatched
  // root's null connected column answers the default instead. Plumbs as a
  // connected-property projection (canonical column `c_<prop>`) with the
  // default applied BEFORE DISTINCT/ORDER BY (Cypher operates on the
  // returned values, not the raw binding).
  final case class RetCoalesce(prop: String, default: String)
    extends RetItem
  // labels(v) — Cypher's label-list accessor. One label per node in this
  // model, so the list serializes to the label itself (the engine's
  // deterministic list serialization, same contract as collect());
  // canonical output column `m_labels`/`c_labels`.
  final case class RetLabels(onConn: Boolean) extends RetItem
  // type(r) — the traversed relationship's type (output column `r_type`).
  // Only valid when the hop pattern binds a relationship variable, which
  // in turn forces the single-hop form (Cypher: type() is undefined on a
  // variable-length binding). Acts as a grouping key under aggregates
  // (the `RETURN type(r), count(*)` schema-census staple).
  case object RetRelType extends RetItem
  // keys(r) / properties(r) — the edge's property-map inspection
  // accessors (the "what's on this relationship" staple). Neo4j returns
  // a list / a map; the tabular contract serializes both
  // DETERMINISTICALLY, sorted by key: keys(r) → the comma-joined key
  // list (collect()'s contract) under `r_keys`; properties(r) →
  // `{k1: v1, k2: v2}` under `r_properties`. An unbound r (unmatched
  // OPTIONAL binding) projects null for both, Cypher's rule; an EMPTY
  // map answers ''/'{}'. Same substrate rules as every r-form: bound
  // single-hop relationship variable required, a grouping key under
  // aggregates.
  final case class RetRelAccessor(fn: String) extends RetItem
  // keys(n) / properties(n) — the NODE-side symmetry of the accessors
  // above (round-14 directive 4). A node's user properties are the
  // fixed document columns {content, docnbr, name} with the at-rest
  // convention that the empty string means ABSENT (the ingest writes ''
  // for properties a tag doesn't carry); `label` is a label, not a
  // property, and `batch`/`path` are engine lineage/layout columns —
  // none of the three serialize. Same deterministic sorted-by-key
  // serialization as keys(r)/properties(r): `content,docnbr,name` order
  // under `m_keys`/`m_properties` (matched variable — computed on the
  // root scan hop-less, or carried on the ROOT side of a hop pattern,
  // so an OPTIONAL unmatched root still answers its own keys) or
  // `c_keys`/`c_properties` (connected variable — one extra hash join
  // against the node relation on c_id, only when requested).
  final case class RetNodeAccessor(fn: String, onConn: Boolean)
    extends RetItem
  // startNode(r).<prop> / endNode(r).<prop> — the STORED endpoint
  // projections (round-14 directive 3: Neo4j's startNode/endNode answer
  // the edge's source/destination AS WRITTEN, independent of traversal
  // orientation — on an incoming or undirected match they reveal which
  // way the relationship actually points). The typed-bindings relation
  // carries the stored identity (`r_eid` = struct(src, dst, relType)),
  // so each side is one hash join against the node relation, added only
  // when requested. Canonical columns `startnode_<prop>` /
  // `endnode_<prop>`; bound single-hop relationship variable required
  // (same substrate rule as every r-form).
  final case class RetEndpoint(start: Boolean, prop: String)
    extends RetItem
  // startNode(r) / endNode(r) — the WHOLE-node endpoint projection
  // (round-15 directive 4). The tabular contract cannot hand back a
  // node object, so the node serializes through the same sorted-key
  // properties(n) machinery as [[RetNodeAccessor]] (`{k: v, …}` over
  // the user properties, '' = absent) under the canonical column
  // `startnode_properties` / `endnode_properties` — a name the dotted
  // form can never produce (ProjectableProps excludes "properties"),
  // so the two namespaces cannot collide. The STORED-endpoint rule is
  // identical to [[RetEndpoint]]: on an undirected or incoming match
  // the serialization reveals the edge's as-written source/destination
  // node, not the traversal side. Same substrate rule (bound
  // single-hop relationship variable), same one-hash-join-per-side
  // execution — a query asking both the dotted and whole forms of one
  // side still pays a single join. Like the node accessors, pairing
  // with an aggregate rejects by name (a serialized map is not a
  // Cypher grouping key).
  final case class RetEndpointNode(start: Boolean) extends RetItem
  // coalesce(r.prop, 'default') — the missing-key/unmatched-OPTIONAL
  // default on the edge-property map (canonical column `r_<prop>`, like
  // [[RetRelProp]]; the default applies BEFORE DISTINCT/ORDER BY).
  final case class RetRelCoalesce(prop: String, default: String)
    extends RetItem

  /** `WITH <keys>, agg AS <alias>[, agg AS <alias> …] [WHERE <alias>
    * <op> <num>]` — the aggregate-then-filter (HAVING) pipeline stage.
    * `groupIdentity` = the WITH clause bound the whole matched variable,
    * so grouping is by node IDENTITY (two roots sharing a projected name
    * stay separate groups); otherwise grouping is by the bound properties
    * (Cypher's rule). `aliases` is one name per aggregate item, in the
    * order the aggregates appear among the RETURN items (the executor
    * zips them positionally); `having` names WHICH alias it filters.
    * `havingAfterLimit` = the WHERE sat AFTER the WITH stage's ORDER
    * BY/LIMIT (openCypher's subclause order), so it filters the LIMITED
    * rows — the executor applies it after the limit, not at the
    * aggregation (the two orders only differ when a LIMIT is present).
    */
  final case class WithSpec(groupIdentity: Boolean, aliases: Seq[String],
      having: Option[(String, String, Double)],
      havingAfterLimit: Boolean = false)

  /** One aggregate item of a chained (2nd+) WITH stage: fn over a FLAT
    * column of the previous stage's output (None = `count(*)`).
    */
  final case class FlatAgg(fn: String, arg: Option[String],
      distinct: Boolean, alias: String)

  /** A chained WITH stage over the FLAT output of the previous stage
    * (columns referenced by bare name — the previous stage's grouping
    * names and aggregate aliases): grouping keys then aggregates, with
    * the same optional WHERE (either subclause position) / ORDER BY /
    * LIMIT surface as the first stage. `aggs` empty = a pure
    * projection/filter stage (`WITH n WHERE n > 2`).
    */
  final case class FlatStage(keys: Seq[String], aggs: Seq[FlatAgg],
      having: Option[(String, String, Double)], havingAfterLimit: Boolean,
      orderBy: Seq[(String, Boolean)], limit: Option[Int],
      // `WITH DISTINCT a, b` — dedupe a keys-only stage (aggregating
      // stages already collapse per group; DISTINCT there is rejected)
      distinct: Boolean = false)

  /** `MATCH … WITH … WITH … [WITH …] RETURN …` — the multi-stage pipeline
    * (aggregate → re-filter → re-aggregate, the reference's NL→Cypher
    * loop staple). Stage 1 is re-expressed as a SINGLE-stage WITH query
    * (`stage1Query`, validated at parse time) whose RETURN projects the
    * stage's grouping columns + aliases; `stage1Renames` maps its
    * canonical `m_<prop>` outputs to the bare names the later stages
    * see. Each later stage is a flat aggregation over the previous
    * output; the final RETURN selects/renames flat columns.
    */
  final case class ChainedWith(
      stage1Query: String,
      stage1Renames: Seq[(String, String)],
      stages: Seq[FlatStage],
      retItems: Seq[(String, Option[String])],
      retDistinct: Boolean,
      retOrderBy: Seq[(String, Boolean)],
      retSkip: Option[Int],
      retLimit: Option[Int]) extends Statement

  /** `MATCH (v…) [WHERE …] WITH v [ORDER BY v.key [dir]] LIMIT k
    * (MATCH …|RETURN …)` — the top-k-then-expand staple ("the 5 largest
    * X, then their Y"), executed in TWO PHASES (r16 directive 2): the
    * stage-1 match runs as its own query projecting `v.id` under the
    * stage's ORDER BY + LIMIT (with `v.id` as the deterministic final
    * tiebreak — Neo4j leaves ties and the no-ORDER-BY pick arbitrary;
    * this engine pins both, the shortestPath tie-break convention), and
    * the k ids splice into the remaining clauses as a `v.id IN […]`
    * conjunct. k is bounded (`TopKMaxK`), so the id list is a bounded
    * driver-side collect — the broadcast-the-tiny-side plan, exactly
    * what a 1000-executor cluster wants for a k-row semi-join. The
    * stage-1 pattern must be a single NODE pattern: its rows are then
    * one-per-node, so the id-set restriction is EXACTLY the row limit
    * (a relationship pattern's rows carry per-binding multiplicity an
    * id set cannot express — rejected by name).
    *
    * `pre`/`whereBody`/`post` hold the rebuilt tail text around the
    * splice point; [[rebuilt]] assembles the final query, which re-runs
    * through the whole parse pipeline so every tail shape the engine
    * serves (chains, DISTINCT, aggregates, UNWIND, scalar fns) composes
    * for free. A clean RETURN tail (no DISTINCT/aggregate/ordering of
    * its own) never reaches this statement — it folds textually at
    * parse time (limit-then-project rows map 1:1, and the fold keeps
    * the stage's output ordering, which two-phase would drop).
    */
  final case class TopKExpand(
      stage1Query: String,
      rootVar: String,
      k: Int,
      pre: String,
      whereBody: Option[String],
      post: String) extends Statement {
    def rebuilt(ids: Seq[Long]): String = {
      val list = ids.mkString("[", ", ", "]")
      whereBody match {
        case Some(b) =>
          s"$pre WHERE $rootVar.id IN $list AND ($b) $post"
        case None => s"$pre WHERE $rootVar.id IN $list $post"
      }
    }
  }

  /** `MATCH … WITH <v.prop AS key>, <agg AS a>[, …] [WHERE hav]
    * ORDER BY … LIMIT k MATCH …` — the aggregate-then-re-expand staple
    * (r16, the battery's #1 ranked lead: "the 2 nations with the most
    * customers, now show their X"). TWO-PHASE like [[TopKExpand]]:
    * stage 1 runs the aggregate WITH as its own single-stage query
    * (key + every aggregate alias projected — the grammar's rule —
    * ordered with the KEY as the deterministic final tiebreak, group
    * keys being unique) and collects the ≤ k KEY VALUES; the tail then
    * rides the whole [[rewriteUnwind]] machinery with the key alias as
    * the UNWIND variable — so `{prop: key}` inline maps, `= key` /
    * `key = v.prop` comparisons, and `RETURN key` projections all
    * compose exactly as the UNWIND surface does, with the values as
    * the IN list. Values are group keys → distinct by construction
    * (set ≡ bag). A value containing a quote cannot be spliced as a
    * literal and rejects at run time by name.
    */
  final case class AggTopKExpand(stage1Query: String, keyCol: String,
      keyAlias: String, tail: String) extends Statement

  /** `MATCH … WITH <agg AS a>[, …] MATCH … RETURN [a, ] …` — the
    * KEY-LESS global-aggregate re-entry (r17, battery b32: "count the
    * X, then match the Y and show both"). A key-less aggregate stage
    * is ONE summary row, so the re-entry is a 1-row SCALAR SPLICE:
    * stage 1 runs the aggregates as the global-RETURN form and the
    * collected scalars re-enter the tail's result as literal columns
    * at their original RETURN positions (`layout`: Left = a spliced
    * scalar (source column → output name), Right = the i-th column of
    * the tail's own result). The tail may reference the aliases ONLY
    * as RETURN items — a WHERE/ORDER BY use would make the constant a
    * filter/sort key, which callers should write against the stage
    * directly; rejected by name at parse time.
    */
  final case class GlobalAggExpand(stage1Query: String,
      tailQuery: String,
      layout: Seq[Either[(String, String), Int]]) extends Statement

  /** Bag-multiplicity UNWIND (duplicate list elements): the
    * per-occurrence single-element rewrites, unioned at execution;
    * `reAgg` maps each aliased aggregate output column to its bag
    * re-aggregation (count/sum → sum, min → min, max → max). Empty
    * reAgg = aggregate-free tail, plain union. See [[parseUnwindBag]].
    */
  final case class UnwindBag(queries: Seq[String],
      reAgg: Seq[(String, String)]) extends Statement

  final case class MatchReturn(
      label: Option[String],
      props: Map[String, String],
      relType: Option[String],
      hops: Int,
      // WHERE in disjunctive normal form: OR of AND-groups
      conds: Seq[Seq[Cond]],
      items: Seq[RetItem],
      // ORDER BY keys in query order, most-significant first; each is an
      // m-property name or the CountKey/RelTypeKey pseudo-key, paired
      // with its descending flag. Empty = no ORDER BY.
      orderBy: Seq[(String, Boolean)],
      skip: Option[Int],
      limit: Option[Int],
      optional: Boolean = false, // OPTIONAL MATCH hop: left-outer expansion
      distinct: Boolean = false, // RETURN DISTINCT
      // WHERE [NOT] (m)-[...]->(...): semi/anti-join existence filter
      existsPat: Option[ExistsPat] = None,
      // WITH … WHERE …: aggregate alias + post-aggregation filter
      withSpec: Option[WithSpec] = None,
      // `RETURN <item> AS <alias>`: canonical output column → requested
      // name, applied as a final rename (ordering/dedup run on canonical
      // columns, so aliasing never changes WHICH rows come back)
      aliases: Map[String, String] = Map.empty,
      // hop-pattern direction: "out" (-[]->), "in" (<-[]-), or "both"
      // (-[]-, Cypher's undirected pattern — each step may follow an edge
      // either way). Executed by reorienting the edge relation fed to the
      // SAME expansion kernel, so every downstream shape (agg, optional,
      // distinct) is direction-agnostic.
      direction: String = "out",
      // `-[r]->` bound a relationship variable: the expansion switches to
      // the single-hop typed-bindings substrate (one row per EDGE, not per
      // min-depth-deduped (root, node) pair — Cypher's true bag semantics)
      // carrying the edge's type as `r_type`
      relVar: Option[String] = None,
      // conditions that ALWAYS filter the ROOT scan, even under an
      // OPTIONAL pattern (where `conds` filters bindings): the size()
      // desugar puts the user's first-MATCH WHERE here, since that WHERE
      // was attached to the plain MATCH, not the synthetic optional hop
      rootConds: Seq[Seq[Cond]] = Seq.empty) extends Statement
  final case class DetachDelete(tag: String) extends Statement

  /** `MATCH (m[:Label[:Batch]] [{…}]) [WHERE …] DETACH DELETE m` — the
    * per-node cascade delete (r17, battery b37's write shape): the
    * matched nodes go and every incident edge goes with them. Executed
    * as one anti-join on the node table and two on the edge table
    * (src, then dst) — never a per-node probe; `id` is filterable
    * exactly as on the read and SET paths.
    */
  final case class DetachDeleteNodes(label: Option[String],
      batch: Option[String], props: Map[String, String],
      conds: Seq[Seq[Cond]]) extends Statement

  /** `MATCH … WITH v [ORDER BY …] [SKIP s] LIMIT k <write-clause>` —
    * a top-k stage feeding a WRITE (r17, battery b37/b38: "SET a flag
    * on the 5 most-connected X", "delete the 2 oldest Y"). TWO-PHASE
    * like [[TopKExpand]]: stage 1 collects the ≤ k ids under the stage
    * ordering, and the write tail re-parses as `MATCH (v) WHERE id(v)
    * IN […] <tail>` — the id conjunct is the write path's existing
    * match shape, so SET and per-node DETACH DELETE compose without
    * new write kernels. Executed by [[runWrite]] only (the read API
    * rejects with the phantom-write pointer).
    */
  final case class TopKWrite(stage1Query: String, rootVar: String,
      writeTail: String) extends Statement {
    def rebuilt(ids: Seq[Long]): String =
      s"MATCH ($rootVar) WHERE id($rootVar) IN " +
        ids.mkString("[", ", ", "]") + s" $writeTail"
  }

  /** Pattern-less `RETURN <literal> [AS alias]` (r15) — the sanity /
    * connectivity probe LLM agents open a session with (`RETURN 1`).
    * One row, no scan; the column is named by Neo4j's rule (the
    * expression text — numbers verbatim, strings quoted — unless
    * aliased). Integers come back as longs, decimals as doubles.
    */
  final case class ReturnLiteral(num: Option[String], str: Option[String],
      alias: Option[String]) extends Statement

  /** `MATCH (m[:Label] [{…}]) [WHERE …] SET m.content = 'value'` — the
    * front-end form of the content-update kernel (reference A18 /
    * `first-graph.py`'s py2neo SET path): one join-update over the
    * matched set, mapped to [[GraphOps.updateNodeProp]]. Since r15 any
    * USER property is writable (`prop` ∈ content/name/docnbr — the
    * engine's property model is fixed user columns plus batch lineage,
    * see [[RetNodeAccessor]]); `label` names the node's kind and
    * `batch` its ingest lineage — writing those is a different
    * operation (re-labeling / re-tagging) and rejects with a pointer
    * to this model.
    * CAVEAT — property-vs-id drift: [[GraphModel.nodeId]] hashes
    * content, name, and docnbr, and SET does NOT re-key the node, so
    * after an update the stored id still reflects the ORIGINAL values;
    * a later MERGE whose pattern carries the NEW value hashes to a
    * different id and mints a separate node. Re-MERGE with the values
    * the node was CREATED with to hit the updated node.
    */
  final case class SetContent(label: Option[String],
      props: Map[String, String], conds: Seq[Seq[Cond]],
      value: String,
      // the optional second (batch-tag) label of the matched pattern —
      // `MATCH (n:Title:Batch {…}) SET …` (`new-converter.js:136-140`)
      batch: Option[String] = None,
      // the written user property (r15): content (the reference's only
      // SET, `new-converter.js:136-141`), name, or docnbr
      prop: String = "content") extends Statement

  /** `CREATE (n:Label {name: '…'[, content: '…'][, docnbr: '…']})` — the
    * front-end form of the MERGE upsert (A11/A12): a deterministic-id
    * node built from the literal property map, left-anti-joined into the
    * graph, so re-running the same CREATE is idempotent (match-or-create,
    * the reference's py2neo merge semantics rather than Neo4j's
    * always-append CREATE — the semantics this engine's identity model
    * supports).
    */
  final case class CreateNode(label: String,
      props: Map[String, String],
      // the OPTIONAL second label of `MERGE (n:Label:Batch {…})` — the
      // reference's batch-tag spelling (`new_final.js:23`: every node of
      // one ingest run carries a unique second label). In this engine's
      // fixed-schema model the batch tag IS the `batch` column (A20), the
      // unit `MATCH (n) WHERE n.<tag> = true DETACH DELETE n` drops
      // (`deleteneo.py:10-12`), so the second label lands there rather
      // than in a label array.
      batch: Option[String] = None) extends Statement

  /** `MERGE (n:Label[:Batch] {…}) [ON CREATE SET n.prop = …[, …]]
    * [ON MATCH SET n.prop = …[, …]]` — the standard Neo4j upsert idiom
    * one step past the reference's plain MERGE (`new_final.js:22-31`):
    * the MERGE key is the pattern (this engine's deterministic node
    * id), and whichever branch actually happened applies ITS
    * assignment map. Since r15 any USER property is writable
    * (content/name/docnbr — comma lists allowed, same join-update
    * kernel as [[SetContent]]); label/batch reject with the
    * property-model pointer. Clauses may appear in either order, each
    * at most once; values are literals or `$params`.
    * CAVEAT — property-vs-id drift (same as [[SetContent]]):
    * [[GraphModel.nodeId]] hashes content/name/docnbr, and the branch
    * SET does NOT re-key the node — the id keeps hashing the values
    * the node was MERGED with. A later MERGE whose pattern carries a
    * SET-updated value therefore computes a DIFFERENT id and mints a
    * duplicate node; re-MERGE with the original pattern to take the
    * ON MATCH branch.
    */
  final case class MergeNodeOnSet(node: CreateNode,
      onCreate: Option[Map[String, String]],
      onMatch: Option[Map[String, String]]) extends Statement

  /** One side of an edge-MERGE's dual MATCH: variable, required label,
    * optional batch tag (second label), literal/parameter property map.
    */
  final case class MergePat(v: String, label: String,
      batch: Option[String], props: Map[String, String])

  /** `MATCH (a:L1[:B] [{…}]), (b:L2[:B] [{…}]) MERGE (a)-[:R]->(b)
    * [MERGE (b)-[:R2]->(a) …]` — the reference's relationship write path
    * (`new_final.js:34-38`): bind two node sets, MERGE one edge per
    * (pair × clause). All clauses land in ONE idempotent upsert
    * (anti-join on the edge MERGE key) — the Spark-first collapse of the
    * reference's one-transaction-per-MERGE loop. Cypher cartesian
    * semantics: every (a, b) pair in the cross product of the two
    * filtered sets gets the edge; a side that matches nothing merges
    * nothing (MERGE inside MATCH never creates the endpoints).
    */
  /** One edge-MERGE clause: `MERGE (src)-[:REL [{props}]]->(dst)`. The
    * optional property map lands in [[EdgeRow.props]] (schemaless
    * string map — any keys; `weight` feeds
    * [[GraphOps.shortestPathWeighted]]). Props are SET-ON-CREATE: the
    * MERGE key is (src, dst, relType), so re-merging an existing edge
    * with different props is a no-op rather than Neo4j's
    * distinct-pattern second relationship — this engine's edge identity
    * is the triple, documented divergence.
    */
  final case class MergeClause(srcVar: String, relType: String,
      dstVar: String, props: Map[String, String] = Map.empty)

  final case class MergeEdges(a: MergePat, b: MergePat,
      // per MERGE clause, in statement order
      clauses: Seq[MergeClause]) extends Statement

  /** `MATCH (a…) MATCH (b…) MERGE (a)-[r:R [{…}]]->(b)
    * ON CREATE SET r.prop = … ON MATCH SET r.prop = …` — the
    * relationship-side branch-aware MERGE, completing the write-surface
    * symmetry with [[MergeNodeOnSet]] (round-13 directive 5). The MERGE
    * key is the edge triple (src, dst, relType); whichever branch
    * actually happened applies ITS property value — created edges carry
    * the inline map plus the ON CREATE assignment, matched edges keep
    * their stored props with the ON MATCH key overwritten (the
    * schemaless [[EdgeRow.props]] map is fully writable, unlike the
    * node side's content-only rule — edge props are not part of the
    * edge identity, so there is no drift caveat here). One MERGE clause
    * per statement (Neo4j binds ON clauses to the preceding MERGE;
    * a multi-clause block with ON branches is rejected by name), each
    * branch at most once, values literal or `$param`.
    */
  final case class MergeEdgesOnSet(a: MergePat, b: MergePat,
      clause: MergeClause, relVar: String,
      onCreate: Map[String, String],
      onMatch: Map[String, String]) extends Statement

  /** One single-hop edge pattern for the relationship write forms:
    * `(a[:L] [{…}])-[r:T]->(b[:L] [{…}])`.
    */
  final case class EdgePat(aVar: String, aLabel: Option[String],
      aProps: Map[String, String], relVar: String, relType: String,
      bVar: String, bLabel: Option[String], bProps: Map[String, String])

  /** `MATCH (a…)-[r:T]->(b…) [WHERE <r.prop conds>] SET r.p = …[, …]` —
    * the direct relationship-property update (the companion of the
    * MERGE-branch form, for edges that already exist): one join-update
    * over the matched edge set via [[GraphOps.updateEdgeProps]]. The
    * WHERE takes r.prop atoms only (endpoint filters belong in the
    * pattern's label/property maps) — a per-edge DNF pushed onto the
    * edge scan.
    */
  final case class SetRelProps(pat: EdgePat, conds: Seq[Seq[Cond]],
      assigns: Map[String, String],
      // the map-form spellings: `SET r += {…}` parses to the same
      // merge-update as the assignment list; `SET r = {…}` sets
      // replace=true and OVERWRITES the whole props map (unnamed stored
      // keys drop — Neo4j's replace semantics)
      replace: Boolean = false) extends Statement

  /** `MATCH (a…)-[r:T]->(b…) [WHERE <r.prop conds>] REMOVE r.p[, …]` —
    * relationship-property removal (Cypher's REMOVE on the schemaless
    * props map): the named keys are map_filter-ed out of every matched
    * edge's props in one join-update; absent keys are a no-op (Neo4j's
    * rule).
    */
  final case class RemoveRelProps(pat: EdgePat, conds: Seq[Seq[Cond]],
      props: Seq[String]) extends Statement

  /** `MATCH (a…)-[r:T]->(b…) [WHERE <r.prop conds>] DELETE r` —
    * relationship deletion (Cypher's DELETE on a bound edge variable;
    * nodes stay — unlike DETACH DELETE). One anti-join on the edge
    * MERGE key against the matched set.
    */
  final case class DeleteRels(pat: EdgePat, conds: Seq[Seq[Cond]])
    extends Statement

  /** `MATCH p = shortestPath((a…)-[[:REL][*[1..K]]]->(b…)) RETURN …` —
    * one row per (a, b) endpoint pair that a directed path connects, at
    * the MINIMUM path length. No range on the relationship = single hop
    * (Cypher's rule); a bare `*` = unbounded (the BFS fixpoint kernel —
    * Neo4j's default shortestPath semantics); `*1..K` bounds the search.
    * RETURN projects endpoint properties and/or `length(p)`. A root's
    * cycle back to itself is no path (Neo4j: shortestPath with identical
    * endpoints finds nothing).
    */
  final case class ShortestPathReturn(
      pathVar: String,
      aVar: String, aLabel: Option[String], aProps: Map[String, String],
      relType: Option[String],
      bound: Option[Int], // None = unbounded `*`
      bVar: String, bLabel: Option[String], bProps: Map[String, String],
      items: Seq[(String, String)], // (var, prop); (pathVar, "length")
      orderBy: Option[(String, String, Boolean)],
      limit: Option[Int],
      // WHERE ALL|NONE(x IN relationships(p) WHERE …): per-edge DNF
      // applied to the edge relation BEFORE the BFS — the shortest path
      // in the subgraph of passing edges, which is exactly how Neo4j's
      // planner evaluates an expansion-evaluable path predicate. NONE
      // keeps the edges whose predicate is FALSE (a null predicate
      // drops the edge under both quantifiers — TRUE-only filter
      // semantics, Kleene-exact since NONE(c) ≡ ALL(c IS FALSE))
      allConds: Seq[Seq[Cond]] = Seq.empty,
      quantNone: Boolean = false,
      // PATH RECONSTRUCTION (r13): `RETURN nodes(p)/relationships(p)`
      // items ((pathVar, "nodes"/"relationships") in `items`) switch the
      // executor from the depth kernels to a bounded enumeration (the
      // parse requires `*1..K`, K ≤ 8). Determinism contract: among
      // equal-length shortest paths, shortestPath answers the
      // lexicographically SMALLEST (path_nodes, path_rels)
      // serialization (Neo4j returns an arbitrary one — an arbitrary
      // answer is ungradable); allShortestPaths (allPaths=true) answers
      // ALL min-length paths, one row each, which restores its true
      // bag semantics (without accessors the endpoint+length projection
      // collapses them, so the flag changes nothing there).
      allPaths: Boolean = false,
      // traversal direction (r13): "out" | "in" | "both" — implemented
      // by ORIENTING the edge relation before the kernels/enumeration
      // (reverse projection / union of both orientations), so every
      // downstream step is direction-blind
      dir: String = "out") extends Statement

  /** One RETURN item of a path-quantified query ([[PathQuantReturn]]). */
  sealed trait PathQItem
  /** `a.prop` / `b.prop` endpoint projection → column `<var>_<prop>`. */
  final case class PQProp(v: String, prop: String) extends PathQItem
  /** `length(p)` → column `path_len`. */
  case object PQLen extends PathQItem
  /** `reduce(s = 0, x IN relationships(p) | s + x.prop) [AS alias]` —
    * the along-the-path property sum → column `alias` (default `total`).
    * Edge props are strings: each term try_casts to double, a missing or
    * non-numeric value contributes 0 (documented lens — Neo4j would
    * type-error; a null-poisoning sum would be ungradable).
    */
  final case class PQReduce(prop: String, alias: String) extends PathQItem
  /** `nodes(p)` — the node list along the path, serialized in PATH ORDER
    * as the comma-joined `name` of each node (start through end) →
    * fixed column `path_nodes`. Neo4j returns node entities; `name` is
    * the one property every node of the model carries, and the
    * comma-joined string is the same list contract `collect()` uses —
    * except ordered by path position, which IS the semantics here.
    */
  case object PQNodes extends PathQItem
  /** `relationships(p)` — the relationship-TYPE list along the path,
    * comma-joined in path order → fixed column `path_rels` (meaningful
    * under multi-type alternation `:A|B`; a single-type pattern answers
    * the type repeated length(p) times).
    */
  case object PQRels extends PathQItem

  /** `MATCH p = (a…)-[r:T*lo..hi]->(b…)
    * [WHERE ALL|ANY|NONE|SINGLE(x IN relationships(p) WHERE <x.prop
    * conds>)] RETURN <a.prop|b.prop|length(p)|nodes(p)|
    * relationships(p)|reduce(…)> …` —
    * relationship predicates on VARIABLE-LENGTH patterns (round-13
    * directive 4), the form Neo4j users filter weighted paths with.
    * Path semantics are Neo4j's: one row PER PATH (bag — two distinct
    * qualifying paths to the same endpoint answer two rows),
    * relationship-unique (an edge may appear at most once per path —
    * Cypher's relationship isomorphism), directed, length within
    * [lo, hi]. Quantifier semantics are exact in Kleene logic (a
    * missing/non-numeric property compares to NULL): the path survives
    * iff the quantifier is TRUE — ALL: every edge true; ANY: ≥1 true
    * (nulls irrelevant once one is true); NONE: zero true AND zero
    * null; SINGLE: exactly one true AND zero null.
    *
    * Execution is a [[GraphOps.trails]] enumeration. Under `ALL(…)` the
    * per-edge DNF compiles onto the EDGE RELATION (the expansion only
    * walks passing edges — one sargable scan-side filter, no per-path
    * re-check); under ANY/NONE/SINGLE every type-matched edge is walked
    * carrying two counter columns (true-count, null-count, one add per
    * step) and the quantifier is a counter test at output. The reduce
    * sum accumulates along the frontier the same way. The parse caps
    * `hi`, which bounds the enumeration.
    */
  final case class PathQuantReturn(
      pathVar: String,
      aVar: String, aLabel: Option[String], aProps: Map[String, String],
      relVar: Option[String], relType: Option[String],
      lo: Int, hi: Int,
      bVar: String, bLabel: Option[String], bProps: Map[String, String],
      quant: String, // ALL | ANY | NONE | SINGLE ("" when no WHERE)
      allConds: Seq[Seq[Cond]], // DNF over the quantified edge variable
      items: Seq[PathQItem],
      orderBy: Option[(String, Boolean)], // (output column, desc)
      limit: Option[Int],
      // traversal direction (r13): "out" (`->`), "in" (`<-` — the
      // REVERSED edge relation, a projection), "both" (undirected —
      // union of both orientations; the visited list carries the STORED
      // edge identity either way, so one relationship can never appear
      // twice in a path even in opposite directions, Cypher's rule)
      dir: String = "out") extends Statement

  /** One node of a chain pattern: variable name, optional label, inline
    * property map.
    */
  final case class ChainNode(v: String, label: Option[String],
      props: Map[String, String])

  /** `MATCH (a…) MATCH (b…) [WHERE …] RETURN …` — two INDEPENDENT node
    * patterns (Cypher's cartesian composition; LLMs emit it to COMPARE two
    * entities). Bindings are the cross product of the two filtered node
    * sets constrained by WHERE: a cross-variable EQUALITY turns the
    * product into an equi-join under Catalyst's predicate pushdown, any
    * other predicate stays a label-filtered nested-loop join — exactly
    * Cypher's semantics, one distributed join either way.
    *
    *  - `conds`: DNF of (node index 0/1, comparison); a cross-variable
    *    comparison carries the RHS property in `crossProp` and the RHS
    *    node index in `crossOnConn` (true = the second variable)
    */
  final case class DualMatchReturn(
      nodes: Seq[ChainNode],
      conds: Seq[Seq[(Int, Cond)]],
      items: Seq[(Int, String)],
      // ORDER BY keys in query order, most-significant first
      orderBy: Seq[(Int, String, Boolean)],
      skip: Option[Int],
      limit: Option[Int],
      distinct: Boolean) extends Statement

  /** `MATCH (a)-[r1]->(b)-[r2]->(c)[-[r3]->(d) …]` — the N-step chain
    * pattern with BOUND intermediate variables (LLMs emit this for every
    * "X of Y of Z" prompt; ≥3 steps arrive via the iterative scanner).
    * Executed as one frontier expansion per step joined on the shared
    * variable's node identity — never a per-row traversal. Bindings are
    * distinct node tuples (path-existence semantics — the engine's
    * expansion dedupes (root, node) pairs to min depth, so a pair
    * reachable along several paths binds once).
    *
    * NAMED DIVERGENCE (bag multiplicity on ranged segments): because a
    * ranged segment's bindings are min-depth-deduped (root, node) PAIRS,
    * `MATCH (m)-[*1..2]->(c) RETURN m.name, count(c)` counts DISTINCT
    * reachable nodes where Neo4j counts PATHS (a node reachable two ways
    * within the range contributes 2 to Neo4j's count, 1 here). The
    * divergence is deliberate — path-existence is the scalable serving
    * answer — and a user who needs Neo4j's per-path bag writes the
    * explicit path form `MATCH p = (m)-[*1..2]->(c) …`, which has exact
    * bag semantics (one row per path, [[PathQuantReturn]]). Pinned by
    * ChainBagSemanticsSpec.
    *
    *  - `conds`: DNF of (node index 0/1/2, comparison)
    *  - `items`: projections as (node index, prop)
    *  - `orderBy`: key LIST in query order, most-significant first —
    *    (node index, prop, descending); index -1 = the count pseudo-key
    */
  final case class ChainReturn(
      nodes: Seq[ChainNode],
      rels: Seq[(Option[String], Int)], // (relType, max hops) per step
      conds: Seq[Seq[(Int, Cond)]],
      items: Seq[(Int, String)],
      orderBy: Seq[(Int, String, Boolean)],
      skip: Option[Int],
      limit: Option[Int],
      distinct: Boolean,
      // count([DISTINCT] v) over the chain bindings, grouped by `items`
      // (Cypher's grouping rule); output column `n_<var>`. ORDER BY
      // count(v) is encoded as orderBy index -1 with the count column.
      countVar: Option[(Int, Boolean)] = None,
      // per-segment RELATIONSHIP filters (r13): inline map equalities
      // (`-[r:T {grade: 'x'}]->`) and top-level-conjunct `r.prop` WHERE
      // atoms, both compiled onto that segment's EDGE SCAN (sargable,
      // below the joins — the chain only walks passing edges).
      // Filter-only by design: projecting r.prop on a chain rejects by
      // name (the id-pair expansion drops edge payloads; a single-hop
      // MATCH projects them). Single-hop segments only — parse rejects
      // them on var-length segments (the quantified path form owns
      // per-edge talk there).
      relMaps: Seq[Map[String, String]] = Seq.empty,
      relConds: Seq[Seq[Cond]] = Seq.empty,
      // per-segment traversal direction (r13): "out" (`->`), "in"
      // (`<-` — that segment walks the reversed edge relation, a
      // column swap on its scan), or "both" (r14: the undirected
      // `-[…]-` — that segment's scan unions both orientations; the
      // stored edge identity rides along, so the isomorphism rule
      // below still recognizes one stored relationship seen from
      // either side). Mixed chains are Cypher's co-occurrence staple
      // (`(a)-[:R]->(x)<-[:R]-(b)`); empty = all "out".
      dirs: Seq[String] = Seq.empty) extends Statement

  // the shared MATCH-pattern prefix (matched node, optional hop pattern,
  // optional pattern-level WHERE) — both statement regexes build on it,
  // so the pattern grammar can never drift between the plain and the
  // WITH-pipeline forms. 10 capture groups.
  private val PatFrag =
    """(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*""" +
      """(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:(?:OPTIONAL\s+MATCH\s*\(\s*(\w+)\s*\)\s*)?""" +
      """(?:<)?-\s*\[\s*(?:[A-Za-z_]\w*\s*)?(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:\*\s*1\s*\.\.\s*(\d+)\s*)?(?:\{[^}]*\}\s*)?\]\s*-\s*(?:>)?\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*)?""" +
      """(?:WHERE\s+(.*?)\s*)?"""

  // one ORDER BY item (property ref, count(...), type(...), or a bare
  // alias, each with an optional direction) — used non-capturing inside
  // the statement regexes so the whole comma-separated clause lands in
  // ONE group, then re-parsed item-by-item (the per-alternative capture
  // approach cannot express a key LIST without exploding the group
  // budget past Scala's 22-binding unapply limit)
  private val ObItemFrag =
    """(?:(?:toLower|toUpper|trim|size|toInteger|toFloat)\s*\(\s*\w+\s*\.\s*\w+\s*\)|\w+\s*\.\s*\w+|count\s*\(\s*(?:DISTINCT\s+)?(?:\w+|\*)\s*\)|type\s*\(\s*\w+\s*\)|\w+)(?:\s+(?:ASC|DESC))?"""

  private val MatchRe =
    (PatFrag +
      """RETURN\s+(DISTINCT\s+)?(.+?)\s*""" +
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:SKIP\s+(\d+)\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  // MATCH … WITH <keys>, count(…) AS <alias> [WHERE <alias> <op> <num>]
  // RETURN … — Cypher's aggregate-then-filter pipeline (SQL's HAVING),
  // the form LLMs emit for every "X with more than N Y" prompt. The WITH
  // item list is matched STRUCTURALLY (grouping items then one aliased
  // count, the canonical emission order): a `STARTS WITH`/`ENDS WITH`
  // comparison or a literal containing the word "with" cannot be mistaken
  // for the clause keyword, because what follows it never parses as an
  // item list — the regex backtracks to the real WITH or fails to the
  // plain-MATCH form.
  // one aliased WITH aggregate item (non-capturing): agg(arg) AS alias
  private val WithAggFrag =
    """(?:count|sum|avg|min|max|collect)\s*\(\s*(?:DISTINCT\s+)?""" +
      """(?:\*|\w+(?:\s*\.\s*\w+)?)\s*\)\s+AS\s+\w+"""

  private val WithRe =
    (PatFrag +
      s"""WITH\\s+((?:\\w+(?:\\s*\\.\\s*\\w+)?\\s*,\\s*)+""" +
      s"""$WithAggFrag(?:\\s*,\\s*$WithAggFrag)*)\\s+""" +
      """(?:WHERE\s+(\w+)\s*(<>|<=|>=|=|<|>)\s*(-?\d+(?:\.\d+)?)\s*)?""" +
      // WITH-stage ORDER BY/LIMIT (`WITH m, count(c) AS n ORDER BY n DESC
      // LIMIT 5 RETURN …` — the LLM top-k-groups emission). Normalized
      // onto the RETURN-side ordering path: RETURN after WITH projects
      // the grouped rows 1:1 (unique per group), so order-then-project ≡
      // project-then-order and the limit picks the same groups.
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:LIMIT\s+(\d+)\s*)?""" +
      // openCypher also admits the WHERE AFTER the ORDER BY/SKIP/LIMIT
      // subclauses (and applies it after them) — accept that spelling as
      // ONE group re-parsed by PostHavRe (the 22-binding unapply budget
      // is exhausted, so the clause can't take three groups of its own)
      """(?:WHERE\s+(\w+\s*(?:<>|<=|>=|=|<|>)\s*-?\d+(?:\.\d+)?)\s*)?""" +
      """RETURN\s+(DISTINCT\s+)?(.+?)\s*""" +
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:SKIP\s+(\d+)\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  // the captured post-LIMIT WHERE clause, split back into (alias, op, num)
  private val PostHavRe =
    """(?is)\s*(\w+)\s*(<>|<=|>=|=|<|>)\s*(-?\d+(?:\.\d+)?)\s*""".r

  // one WITH item: the grouping variable/property or the aliased aggregate
  private val WithCountRe =
    """(?is)\s*count\s*\(\s*(DISTINCT\s+)?(\*|\w+)\s*\)\s+AS\s+(\w+)\s*""".r
  // count([DISTINCT] c.prop) AS alias — property-value count
  private val WithCountPropRe =
    """(?is)\s*count\s*\(\s*(DISTINCT\s+)?(\w+)\s*\.\s*(\w+)\s*\)\s+AS\s+(\w+)\s*""".r
  // sum/avg/min/max(c.prop) AS alias — the numeric/collation aggregates
  private val WithAggPropRe =
    """(?is)\s*(sum|avg|min|max)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)\s+AS\s+(\w+)\s*""".r
  // collect([DISTINCT] c.prop) AS alias — the list-gathering WITH item
  // (r15: `WITH a, collect(n.name) AS names RETURN a.name, names` is
  // an LLM staple); same sorted comma-joined serialization as the
  // RETURN-side collect
  private val WithCollectRe =
    """(?is)\s*collect\s*\(\s*(DISTINCT\s+)?(\w+)\s*\.\s*(\w+)\s*\)\s+AS\s+(\w+)\s*""".r

  // MATCH (a)-[r1]->(b)-[r2]->(c) …: the two-step chain. The second hop
  // arrow right after the middle node's paren is what distinguishes this
  // from the single-hop forms (whose regexes require WHERE/WITH/RETURN
  // there, so neither can swallow a chain).
  // each segment bracket (r13): optional rel VARIABLE, optional type
  // alternation, optional *1..k range, optional inline property map —
  // vars/maps power the chain's per-segment relationship filters
  private val ChainRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(<)?-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:\*\s*1\s*\.\.\s*(\d+)\s*)?(?:\{\s*([^}]*)\s*\}\s*)?\]\s*-\s*(>)?\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(<)?-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:\*\s*1\s*\.\.\s*(\d+)\s*)?(?:\{\s*([^}]*)\s*\}\s*)?\]\s*-\s*(>)?\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.*?)\s*)?""" +
      """RETURN\s+(DISTINCT\s+)?(.+?)\s*""" +
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:SKIP\s+(\d+)\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  private val DeleteRe =
    """(?is)\s*MATCH\s*\(\s*(\w+)\s*\)\s*WHERE\s+\1\.(\w+)\s*=\s*true\s+DETACH\s+DELETE\s+\1\s*;?\s*""".r

  // MATCH (m[:Label[:Batch]] [{…}]) [WHERE …] DETACH DELETE m — the
  // per-node cascade delete; tried AFTER the boolean-tag DeleteRe form
  // (which maps onto the batch-drop kernel)
  private val DeleteNodesRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?(?:\s*:\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.*?)\s*)?""" +
      """DETACH\s+DELETE\s+(\w+)\s*;?\s*""").r

  // MATCH (m…) [WHERE …] SET m.content = '…' — the write form; the SET
  // keyword after the pattern (where every read form requires
  // WHERE/WITH/RETURN or a relationship segment) disambiguates it.
  // the pattern takes an optional second (batch-tag) label and the match
  // props / SET value may be `$param`s — the reference's content-update
  // call is exactly `MATCH (n:Title:Batch {name: $name, docnbr: $docnbr})
  // SET n.content = $content` (`new-converter.js:136-140`)
  private val SetRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?(?:\s*:\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.*?)\s*)?""" +
      """SET\s+(\w+)\s*\.\s*(\w+)\s*=\s*(?:'([^']*)'|\$(\w+))\s*;?\s*""").r

  // MATCH (a…)-[r:T]->(b…) [WHERE …] SET r.p = …[, r.p2 = …] — the
  // direct relationship-property update; the hop bracket is what keeps
  // this and SetRe from ever colliding (SetRe's pattern is hop-less)
  private val SetRelRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """-\s*\[\s*(\w+)\s*:\s*(\w+)\s*\]\s*-\s*>\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.+?)\s*)?""" +
      """SET\s+((?:\w+\s*\.\s*\w+\s*=\s*(?:'[^']*'|\$\w+)\s*,?\s*)+);?\s*""").r

  // MATCH (a…)-[r:T]->(b…) [WHERE …] SET r (+=|=) { … } — the map-form
  // relationship update: `+=` merges the map into the stored props
  // (Neo4j's selective update — written keys overwrite, others keep),
  // bare `=` REPLACES the whole props map (unnamed stored keys drop).
  // The brace span is re-scanned by OnSetAssignMapRe with the same
  // entry-count completeness check as parseRelProps (an unsupported
  // value form is a named error, never a silently-dropped entry).
  private val SetRelMapRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """-\s*\[\s*(\w+)\s*:\s*(\w+)\s*\]\s*-\s*>\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.+?)\s*)?""" +
      """SET\s+(\w+)\s*(\+?=)\s*\{\s*([^}]*)\s*\};?\s*""").r
  private val OnSetAssignMapRe =
    """(\w+)\s*:\s*(?:'([^']*)'|\$(\w+))""".r

  // MATCH (a…)-[r:T]->(b…) [WHERE …] DELETE r — relationship deletion
  private val DeleteRelRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """-\s*\[\s*(\w+)\s*:\s*(\w+)\s*\]\s*-\s*>\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.+?)\s*)?""" +
      """DELETE\s+(\w+)\s*;?\s*""").r

  // MATCH (a…)-[r:T]->(b…) [WHERE …] REMOVE r.p[, r.p2 …]
  private val RemoveRelRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """-\s*\[\s*(\w+)\s*:\s*(\w+)\s*\]\s*-\s*>\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.+?)\s*)?""" +
      """REMOVE\s+((?:\w+\s*\.\s*\w+\s*,?\s*)+);?\s*""").r
  private val RemoveItemRe = """(\w+)\s*\.\s*(\w+)""".r

  // CREATE (n:Label {prop: '…', …}) — the literal node-creation form; a
  // property map is REQUIRED (a node without a name has no identity in
  // this engine's deterministic-id model)
  // `:Label[:Batch]` — the optional second label is the reference's
  // per-ingest batch tag (`new_final.js:23`), mapped to the `batch` column
  private val CreateRe =
    """(?is)\s*CREATE\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*\{\s*([^}]*)\s*\}\s*\)\s*;?\s*""".r

  // MERGE (n:Label {prop: '…', …}) — Cypher's match-or-create. This
  // engine's node ids are deterministic hashes of (label, name, content,
  // docnbr) and CREATE already runs through the upsert kernel, so MERGE
  // and CREATE coincide by construction: both are idempotent
  // match-or-create. The separate keyword is accepted because it is what
  // LLMs emit when the prompt says "add if missing".
  private val MergeRe =
    """(?is)\s*MERGE\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*\{\s*([^}]*)\s*\}\s*\)\s*;?\s*""".r

  // MERGE (n:Label {…}) ON CREATE SET n.prop = …[, …] ON MATCH SET … —
  // the branch-aware upsert (Neo4j's standard idiom). The trailing ON
  // block is captured whole and re-scanned by OnSetMultiClauseRe (a
  // regex group cannot repeat-and-collect); checked before MergeRe so
  // the plain form never swallows a query with ON clauses.
  private val MergeOnSetRe =
    ("""(?is)\s*MERGE\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*\{\s*([^}]*)\s*\}\s*\)\s*""" +
      """((?:ON\s+(?:CREATE|MATCH)\s+SET\s+\w+\s*\.\s*\w+\s*=\s*(?:'[^']*'|\$\w+)\s*(?:,\s*\w+\s*\.\s*\w+\s*=\s*(?:'[^']*'|\$\w+)\s*)*)+);?\s*""").r
  // each branch clause captures its whole comma-separated assignment
  // LIST (node side since r15: any user property, several per branch;
  // edge side: EdgeRow.props is schemaless — several keys per branch
  // are the Neo4j norm); assignments are re-scanned by OnSetAssignRe
  private val OnSetMultiClauseRe =
    ("""(?i)ON\s+(CREATE|MATCH)\s+SET\s+""" +
      """((?:\w+\s*\.\s*\w+\s*=\s*(?:'[^']*'|\$\w+)\s*,?\s*)+)""").r
  private val OnSetAssignRe =
    """(\w+)\s*\.\s*(\w+)\s*=\s*(?:'([^']*)'|\$(\w+))""".r

  // MATCH (a:L1[:B] [{…}]), (b:L2[:B] [{…}]) MERGE (a)-[:R]->(b) … — the
  // reference's edge write (`new_final.js:34-38`). By the time parseStmt
  // sees it, rewriteCommaPatterns has turned the `), (` comma into a
  // second MATCH keyword, so the pattern accepts the MATCH-separated
  // form; one-or-more MERGE clauses are captured as a block and re-scanned
  // by MergeEdgeClauseRe (a regex group can't repeat-and-collect).
  private val MergeEdgeRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """MATCH\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """((?:MERGE\s*\(\s*\w+\s*\)\s*-\s*\[\s*:\s*\w+\s*(?:\{[^}]*\}\s*)?\]\s*-\s*>\s*\(\s*\w+\s*\)\s*)+);?\s*""").r
  private val MergeEdgeClauseRe =
    """(?i)MERGE\s*\(\s*(\w+)\s*\)\s*-\s*\[\s*:\s*(\w+)\s*(?:\{\s*([^}]*)\s*\})?\s*\]\s*-\s*>\s*\(\s*(\w+)\s*\)""".r

  // MATCH (a…) MATCH (b…) MERGE (a)-[r:R [{…}]]->(b) ON CREATE SET
  // r.prop = … [ON MATCH SET r.prop = …] — the relationship-side
  // branch-aware MERGE. ONE clause (Neo4j binds ON to the preceding
  // MERGE), a REQUIRED rel variable (the SET needs something to
  // reference), and the same ON-block re-scan as the node form
  // (OnSetClauseRe). Checked before MergeEdgeRe, whose clause-block
  // repetition would otherwise fail on the trailing ON text and fall
  // to the generic error.
  private val MergeEdgeOnSetRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """MATCH\s*\(\s*(\w+)\s*:\s*(\w+)(?:\s*:\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """MERGE\s*\(\s*(\w+)\s*\)\s*-\s*\[\s*(\w+)\s*:\s*(\w+)\s*(?:\{\s*([^}]*)\s*\})?\s*\]\s*-\s*>\s*\(\s*(\w+)\s*\)\s*""" +
      """((?:ON\s+(?:CREATE|MATCH)\s+SET\s+\w+\s*\.\s*\w+\s*=\s*(?:'[^']*'|\$\w+)\s*(?:,\s*\w+\s*\.\s*\w+\s*=\s*(?:'[^']*'|\$\w+)\s*)*)+);?\s*""").r

  // WHERE [NOT] EXISTS { [MATCH] (m)-[…]->([:Label]) } — the modern
  // (Neo4j 5.x) existential-subquery spelling of the pattern-existence
  // predicate. Normalized to the bare-pattern form before parsing, so
  // both spellings land in the same semi/anti-join plan. Same
  // restriction: it must be the entire WHERE clause.
  private val ExistsBraceRe =
    """(?is)\s*(NOT\s+)?EXISTS\s*\{\s*(?:MATCH\s+)?(.*?)\s*\}\s*""".r

  // MATCH (m…) [WHERE …] RETURN <m items>, size((m)-[:R]->([:L])) — the
  // degree EXPRESSION ("each X and its number of Y"). size() is not an
  // aggregate in Cypher: every matched root answers one row, zero-degree
  // roots included — desugared to the OPTIONAL-expansion + identity-
  // grouped count pipeline, with the user's WHERE kept on the ROOT scan
  // (it was attached to the plain MATCH, not the synthetic optional hop).
  private val SizeQueryRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.*?)\s*)?""" +
      """RETURN\s+(.*?),\s*size\s*\(\s*\(\s*(\w+)\s*\)\s*""" +
      """-\s*\[\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:\*\s*1\s*\.\.\s*(\d+)\s*)?\]\s*-\s*>\s*""" +
      """\(\s*(?::\s*(\w+)\s*)?\)\s*\)\s*(?:AS\s+(\w+)\s*)?""" +
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:SKIP\s+(\d+)\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  // MATCH (a…) MATCH (b…) … — two independent node patterns (no hop). The
  // second MATCH keyword right after the first pattern's paren is what
  // distinguishes this from every other form (whose regexes require
  // WHERE/WITH/RETURN or a relationship segment there).
  private val DualMatchRe =
    ("""(?is)\s*MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """MATCH\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(.*?)\s*)?""" +
      """RETURN\s+(DISTINCT\s+)?(.+?)\s*""" +
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:SKIP\s+(\d+)\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  // MATCH p = shortestPath((a…)-[…]->(b…)) RETURN … — the path-length
  // query form. The rel fragment distinguishes no-star (single hop) from
  // bare `*` (unbounded) from `*1..K` (bounded).
  private val ShortestPathRe =
    ("""(?is)\s*MATCH\s+(\w+)\s*=\s*(shortestPath|allShortestPaths)\s*\(\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(<)?-\s*\[\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:(\*)\s*(?:1\s*\.\.\s*(\d+)\s*)?)?\]\s*-\s*(>)?\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*\)\s*""" +
      """(?:WHERE\s+(ALL|NONE)\s*\(\s*(\w+)\s+IN\s+relationships\s*\(\s*(\w+)\s*\)\s*WHERE\s+(.+?)\s*\)\s*)?""" +
      """RETURN\s+(.+?)\s*""" +
      """(?:ORDER\s+BY\s+(?:(\w+)\s*\.\s*(\w+)|length\s*\(\s*(\w+)\s*\))\s*(?:(ASC|DESC)\s*)?)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  // `length(p)` — the path-length RETURN item
  private val LengthRe = """(?is)\s*length\s*\(\s*(\w+)\s*\)\s*""".r
  // nodes(p) / relationships(p) as RETURN items of a path-quantified
  // query — the path-content accessors (Neo4j returns entity lists; the
  // tabular contract serializes them in PATH ORDER, see PQNodes/PQRels)
  private val NodesFnRe = """(?is)\s*nodes\s*\(\s*(\w+)\s*\)\s*""".r
  private val RelsFnRe =
    """(?is)\s*relationships\s*\(\s*(\w+)\s*\)\s*""".r

  // MATCH p = (a…)-[r:T*lo..hi]->(b…) [WHERE ALL(x IN relationships(p)
  // WHERE …)] RETURN … — the path-quantified ranged pattern
  // ([[PathQuantReturn]]). The bracket admits NO inline map (the
  // restriction stands on var-length patterns — predicates go through
  // the quantifier); the rel variable is optional (ALL binds its own).
  private val PathQuantRe =
    ("""(?is)\s*MATCH\s+(\w+)\s*=\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(<)?-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*))?\s*\*\s*(\d+)\s*\.\.\s*(\d+)\s*\]\s*-\s*(>)?\s*""" +
      """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*""" +
      """(?:WHERE\s+(ALL|ANY|NONE|SINGLE)\s*\(\s*(\w+)\s+IN\s+relationships\s*\(\s*(\w+)\s*\)\s*WHERE\s+(.+?)\s*\)\s*)?""" +
      """RETURN\s+(.+?)\s*""" +
      """(?:ORDER\s+BY\s+([\w.()]+)\s*(ASC|DESC)?\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r

  // reduce(s = 0, x IN relationships(p) | s + [toFloat(]x.prop[)]) —
  // the along-the-path sum RETURN item of a path-quantified query
  private val ReduceRe =
    ("""(?is)\s*reduce\s*\(\s*(\w+)\s*=\s*0(?:\.0)?\s*,\s*(\w+)\s+IN\s+""" +
      """relationships\s*\(\s*(\w+)\s*\)\s*\|\s*(\w+)\s*\+\s*""" +
      """(?:toFloat\s*\(\s*)?(\w+)\s*\.\s*(\w+)\s*\)?\s*\)\s*""").r

  private val PropRe = """(\w+)\s*:\s*'([^']*)'""".r

  // one `[toLower|toUpper(]var.prop[)] <op> ('value'|number|['v', ...])`
  // comparison, matched as one atom by the boolean tokenizer. The literal
  // is either quoted (string comparison), a bare numeric (numeric
  // comparison), or — for IN — a bracketed list of one or the other. The
  // optional case-fold wrapper (groups 1 + 4; presence validated as a
  // pair in mkCondFn — regexes can't express the conditional) is Cypher's
  // toLower/toUpper scalar on the LHS, the case-insensitive-match staple.
  private val CondRe =
    ("""(?is)\s*(?:(toLower|toUpper|size)\s*\(\s*)?(\w+)\s*\.\s*(\w+)\s*(\))?\s*""" +
      """(<>|<=|>=|=~|=|<|>|STARTS\s+WITH|ENDS\s+WITH|CONTAINS|IN)""" +
      """\s*(?:'([^']*)'|(-?\d+(?:\.\d+)?)|\[([^\]]*)\])\s*""").r

  // `var.prop IS [NOT] NULL` — Cypher's null test (a missing property is
  // null; this engine's node schema is fixed, so it tests column nullness)
  private val NullCondRe =
    """(?is)\s*(\w+)\s*\.\s*(\w+)\s+IS\s+(NOT\s+)?NULL\s*""".r

  // `exists(var.prop)` — legacy Cypher's property-existence predicate
  // (deprecated in Neo4j 4.x in favor of IS NOT NULL, but the pre-4.x
  // corpus LLMs trained on emits it constantly). Desugars to the same
  // IS NOT NULL condition; `NOT exists(…)` composes through the normal
  // negation path.
  private val ExistsFnRe =
    """(?is)\s*exists\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)\s*""".r

  // `v1.p1 <op> v2.p2` — the cross-variable comparison (both sides bound
  // pattern variables; no literal). Matched AFTER CondRe, whose literal
  // alternatives cannot match a var.prop RHS, so the two never collide.
  private val CrossCondRe =
    ("""(?is)\s*(\w+)\s*\.\s*(\w+)\s*""" +
      """(<>|<=|>=|=|<|>|STARTS\s+WITH|ENDS\s+WITH|CONTAINS)""" +
      """\s*(\w+)\s*\.\s*(\w+)\s*""").r

  // `NOT <comparison>` — the negation prefix on one AND-part. Matched
  // AFTER the whole-clause pattern-existence check, so `NOT (m)-[…]->()`
  // never reaches it (that form carries parens, which CondRe rejects).
  private val NotCondRe = """(?is)\s*NOT\s+(.*)""".r

  // one element of an IN list, after the comma split: quoted string or
  // bare numeric (a piece matching neither — e.g. a quoted string that
  // itself contained a comma and got shredded — is a parse ERROR, never a
  // silent partial match)
  private val ListStrRe = """(?s)\s*'([^']*)'\s*""".r
  private val ListNumRe = """\s*(-?\d+(?:\.\d+)?)\s*""".r

  // WHERE [NOT] (m)-[[:REL][*1..K]]->([:Label]) — the pattern-existence
  // predicate, admitted only as the ENTIRE WHERE clause (mixing it into
  // AND/OR groups would need EXISTS columns in the DNF; the standalone
  // form is what LLMs emit for "roots with/without a connection")
  private val ExistsRe =
    ("""(?is)\s*(NOT\s+)?\(\s*(\w+)\s*\)\s*""" +
      """-\s*\[\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:\*\s*1\s*\.\.\s*(\d+)\s*)?\]\s*->""" +
      """\s*\(\s*(?::\s*(\w+)\s*)?\)\s*""").r

  // `[NOT] size((m)-[:R]->([:L])) <op> N` as a WHERE conjunct — the
  // degree-threshold filter (r16, battery lead): single-hop outgoing,
  // integer RHS (the size-sugar shape with a comparison tail)
  private val SizeCondRe =
    ("""(?is)\s*(NOT\s+)?size\s*\(\s*\(\s*(\w+)\s*\)\s*""" +
      """-\s*\[\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?\]\s*-\s*>\s*""" +
      """\(\s*(?::\s*(\w+)\s*)?\)\s*\)\s*(<>|<=|>=|=|<|>)\s*(\d+)\s*""").r

  // one ORDER BY item after the comma split: key then optional direction.
  // Bare-word directions cannot be mistaken for an alias: the (\w+) key is
  // greedy, so `ORDER BY desc` reads as an alias named desc (as in
  // Cypher) while `ORDER BY x desc` reads direction.
  private val ObPropItemRe =
    """(?is)\s*(\w+)\s*\.\s*(\w+)(?:\s+(ASC|DESC))?\s*""".r
  // ORDER BY <scalarFn>(v.prop) [dir] — the sort-by-a-transform staple
  // (`ORDER BY toLower(n.name)`, r16 directive 3). The fn need NOT be
  // projected: the sort key evaluates the fn over the projected BASE
  // property column at order time (the base property must be projected,
  // the same LIMIT-stability rule as every other key).
  private val ObFnItemRe =
    ("""(?is)\s*(toLower|toUpper|trim|size|toInteger|toFloat)""" +
      """\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)(?:\s+(ASC|DESC))?\s*""").r
  private val ObCountItemRe =
    """(?is)\s*count\s*\(\s*(?:DISTINCT\s+)?(\w+|\*)\s*\)(?:\s+(ASC|DESC))?\s*""".r
  private val ObTypeItemRe =
    """(?is)\s*type\s*\(\s*(\w+)\s*\)(?:\s+(ASC|DESC))?\s*""".r
  private val ObBareItemRe =
    """(?is)\s*(\w+)(?:\s+(ASC|DESC))?\s*""".r

  private val CountRe =
    """(?is)\s*count\s*\(\s*(DISTINCT\s+)?(\*|\w+)\s*\)\s*""".r
  // count([DISTINCT] v.prop) — property-value count (CountRe's bare-word
  // operand cannot match the dotted form, so the two never collide)
  private val CountPropRe =
    """(?is)\s*count\s*\(\s*(DISTINCT\s+)?(\w+)\s*\.\s*(\w+)\s*\)\s*""".r
  // `type(r)` — the relationship-type projection (RETURN item)
  private val TypeRe = """(?is)\s*type\s*\(\s*(\w+)\s*\)\s*""".r
  // `type(r) <op> literal` — the relationship-type comparison (WHERE)
  private val TypeCondRe =
    ("""(?is)\s*type\s*\(\s*(\w+)\s*\)\s*""" +
      """(<>|<=|>=|=|<|>|STARTS\s+WITH|ENDS\s+WITH|CONTAINS|IN)""" +
      """\s*(?:'([^']*)'|(-?\d+(?:\.\d+)?)|\[([^\]]*)\])\s*""").r
  // sum/avg/min/max(c.prop) — the property aggregates
  private val AggRe =
    """(?is)\s*(sum|avg|min|max)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)\s*""".r
  // `<item> AS <alias>` — the trailing alias on one RETURN item
  private val AsItemRe = """(?is)(.*?)\s+AS\s+(\w+)\s*""".r
  private val CollectRe =
    """(?is)\s*collect\s*\(\s*(DISTINCT\s+)?(\w+)\s*\.\s*(\w+)\s*\)\s*""".r
  private val CollectBareRe =
    """(?is)\s*collect\s*\(\s*(?:DISTINCT\s+)?(\w+)\s*\)\s*""".r
  // coalesce(v.prop, 'default') — the OPTIONAL MATCH null-default staple
  private val CoalesceRe =
    """(?is)\s*coalesce\s*\(\s*(\w+)\s*\.\s*(\w+)\s*,\s*'([^']*)'\s*\)\s*""".r
  // labels(v) — the label-list accessor
  private val LabelsRe = """(?is)\s*labels\s*\(\s*(\w+)\s*\)\s*""".r
  // keys(r) / properties(r) — the relationship property-map accessors
  private val KeysFnRe = """(?is)\s*keys\s*\(\s*(\w+)\s*\)\s*""".r
  private val StartEndNodeRe =
    """(?is)\s*(startNode|endNode)\s*\(\s*(\w+)\s*\)\s*""".r
  // startNode(r).prop / endNode(r).prop — the stored-endpoint property
  // projection; the whole-node form above serializes via the
  // properties(n) machinery as startnode_properties/endnode_properties
  // (r15, RetEndpointNode)
  private val StartEndNodePropRe =
    """(?is)\s*(startNode|endNode)\s*\(\s*(\w+)\s*\)\s*\.\s*(\w+)\s*""".r
  private val PropsAccessorRe =
    """(?is)\s*properties\s*\(\s*(\w+)\s*\)\s*""".r
  // id(v) — the node-id accessor (r15): this engine's ids are
  // MEANINGFUL (deterministic content hashes on the ingest path,
  // arithmetic keys on the fixtures — GraphModel.nodeId doc), so the
  // accessor is a pure spelling of the id column and desugars to the
  // dotted `v.id` BEFORE parsing (quote-blanked positions; the
  // lookbehind keeps elementId() out — that stays a named rejection).
  // One rewrite serves every context: RETURN projection (canonical
  // m_id / c_id), WHERE comparisons (`WHERE id(n) = 123` — the
  // lookup-by-id staple), ORDER BY, and count(DISTINCT id(v)).
  private val IdFnRe = """(?i)(?<!\w)id\s*\(\s*(\w+)\s*\)""".r

  private def rewriteIdAccessor(q: String): String = {
    val blanked = blankQuoted(q)
    val ms = IdFnRe.findAllMatchIn(blanked).toList
    if (ms.isEmpty) q
    else {
      val sb = new StringBuilder
      var prev = 0
      ms.foreach { m =>
        sb.append(q.substring(prev, m.start)).append(m.group(1) + ".id")
        prev = m.end
      }
      sb.append(q.substring(prev))
      sb.toString
    }
  }
  // scalar string functions over a property projection (RETURN items).
  // `size(v.prop)` (string length) cannot collide with the degree
  // expression `size((m)-[…]->())` — the dotted-property operand vs the
  // parenthesized pattern operand are disjoint shapes.
  private val ScalarFn1Re =
    ("""(?is)\s*(toLower|toUpper|trim|size|toInteger|toFloat)""" +
      """\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)\s*""").r
  private val ScalarReplaceRe =
    """(?is)\s*replace\s*\(\s*(\w+)\s*\.\s*(\w+)\s*,\s*'([^']*)'\s*,\s*'([^']*)'\s*\)\s*""".r
  // Cypher's substring(s, start[, length]) is 0-BASED (desugared to the
  // 1-based SQL substring at execution)
  private val ScalarSubstringRe =
    """(?is)\s*substring\s*\(\s*(\w+)\s*\.\s*(\w+)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)\s*""".r
  private val ScalarLeftRightRe =
    """(?is)\s*(left|right)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*,\s*(\d+)\s*\)\s*""".r
  // searched CASE over matched-node comparisons (RETURN item). The WHEN
  // chain is scanned by CaseWhenRe with a full-coverage check — leftover
  // text between matches is a parse error, never a silently-dropped branch.
  private val CaseRe =
    """(?is)\s*CASE\s+(.+?)\s+(?:ELSE\s+'([^']*)'\s+)?END\s*""".r
  private val CaseWhenRe =
    """(?is)\s*WHEN\s+(.+?)\s+THEN\s+'([^']*)'\s*""".r
  private val VarPropRe = """(?is)\s*(\w+)\s*\.\s*(\w+)\s*""".r
  private val VarRe = """(?is)\s*(\w+)\s*""".r

  /** Hop-pattern direction, detected from the query text rather than
    * capture groups (the shared pattern fragment already saturates
    * Scala's 22-binding unapply limit): `-[]->` is outgoing, `<-[]-`
    * incoming, `-[]-` undirected (Cypher's three forms); arrows on both
    * ends are a parse error, as in Cypher. Sound because the single-hop
    * statement forms bind at most ONE relationship pattern (chains and
    * shortestPath have their own regexes) and a pattern-existence WHERE —
    * the only other arrow carrier — cannot co-occur with a hop pattern.
    * Quoted string literals are blanked first so an arrow-shaped literal
    * can never masquerade as pattern syntax.
    */
  private val InArrowRe = """<\s*-\s*\[""".r
  private val OutArrowRe = """\]\s*-\s*>""".r

  private def parseDirection(query: String,
      hasHop: Boolean): Either[String, String] = {
    if (!hasHop) Right("out")
    else {
      val blanked = query.replaceAll("'[^']*'", "''")
      val hasIn = InArrowRe.findFirstIn(blanked).isDefined
      val hasOut = OutArrowRe.findFirstIn(blanked).isDefined
      (hasIn, hasOut) match {
        case (true, true) =>
          Left("a relationship pattern cannot point both ways (<-[…]->)")
        case (true, false) => Right("in")
        case (false, true) => Right("out")
        case (false, false) => Right("both")
      }
    }
  }

  /** The hop pattern's bound relationship variable (`-[r]->` / `-[r:T]->`),
    * detected from the query text for the same capture-group-budget reason
    * as [[parseDirection]]. Sound for the single-hop statement forms: their
    * only bracket carriers are the ONE hop pattern (first, textually) and
    * IN-list literals, whose elements are quoted strings (blanked first) or
    * numerics — neither starts with an identifier character. A
    * pattern-existence WHERE never co-occurs with a hop pattern, and its
    * own regex admits no variable, so a var inside it fails the query with
    * a named error before this attribution could matter.
    */
  private val RelVarRe = """\[\s*([A-Za-z_]\w*)""".r

  private def parseRelVar(query: String, hasHop: Boolean): Option[String] =
    if (!hasHop) None
    else RelVarRe.findFirstMatchIn(query.replaceAll("'[^']*'", "''"))
      .map(_.group(1))

  /** The hop pattern's inline relationship property map
    * (`-[r:T {grade: 'a'}]->`), extracted textually for the same
    * capture-group-budget reason as [[parseRelVar]] — the statement
    * regexes admit the map non-capturing. Located on the
    * LENGTH-PRESERVING blanked text (the first bracket span is the hop
    * pattern; IN-list brackets never precede it), then the brace span's
    * positions index back into the original so quoted values survive
    * intact. Literal values only — the read surface takes no `$params`
    * (same rule as every other read comparison).
    */
  private val RelBracketRe = """\[[^\[\]]*\]""".r
  // one `key:` inside a (blanked) map body — counted against the parsed
  // entries so an unsupported VALUE form can never be silently dropped
  private val MapKeyRe = """[A-Za-z_]\w*\s*:""".r
  private def parseRelProps(query: String, hasHop: Boolean)
      : Map[String, String] =
    if (!hasHop) Map.empty
    else {
      val blanked = blankQuoted(query)
      RelBracketRe.findFirstMatchIn(blanked).flatMap { span =>
        val open = blanked.indexOf('{', span.start)
        if (open < 0 || open >= span.end) None
        else {
          val close = blanked.indexOf('}', open)
          if (close < 0 || close >= span.end) None
          else {
            val parsed = PropRe.findAllMatchIn(
                query.substring(open + 1, close))
              .map(p => p.group(1) -> p.group(2)).toMap
            // every `key:` in the map must have produced an entry:
            // PropRe admits quoted string values only, so a numeric
            // literal ({weight: 2}), boolean, or $param would otherwise
            // VANISH and the query would return unfiltered bindings —
            // reject by name instead (keys counted on the blanked body,
            // so a quoted value containing `x:` can't inflate the count;
            // a duplicate key collapses in the map and is also rejected)
            val keyCount = MapKeyRe
              .findAllMatchIn(blanked.substring(open + 1, close)).size
            if (parsed.size != keyCount)
              throw ParseError("inline relationship property maps " +
                "support quoted string values and unique keys only " +
                "({key: 'value'}) — numeric/boolean literals and " +
                "$params are not supported; compare with WHERE instead")
            Some(parsed)
          }
        }
      }.getOrElse(Map.empty)
    }

  // ---- boolean WHERE structure: parentheses, NOT groups, AND/OR ----
  // The clause is tokenized (atoms = single comparisons, recognized by
  // the same regexes the flat path uses; structure = parens + keywords),
  // parsed with standard precedence (NOT > AND > OR), negation is pushed
  // to the atoms by De Morgan — EXACT in Kleene three-valued logic, so
  // Cypher's null-dropping WHERE semantics survive the rewrite — and the
  // tree is distributed into the engine's existing DNF (OR of AND-groups
  // of possibly-negated atoms). Downstream execution is untouched: parens
  // cost nothing at runtime.
  private sealed trait WTok
  private case object TLParen extends WTok
  private case object TRParen extends WTok
  private case object TAnd extends WTok
  private case object TOr extends WTok
  private case object TNot extends WTok
  private final case class TAtom(text: String) extends WTok

  private sealed trait BoolExpr
  private final case class BAtom(text: String, neg: Boolean) extends BoolExpr
  private final case class BAnd(l: BoolExpr, r: BoolExpr) extends BoolExpr
  private final case class BOr(l: BoolExpr, r: BoolExpr) extends BoolExpr
  private final case class BNot(e: BoolExpr) extends BoolExpr

  // AND/OR/NOT at a word boundary (`\b` keeps a variable named NOTE from
  // reading as NOT E)
  private val BoolKwRe = """(?is)\s*(AND|OR|NOT)\b""".r
  private val LParenRe = """(?s)\s*\(""".r
  private val RParenRe = """(?s)\s*\)""".r
  // one comparison atom, attempted at the current position in this order
  // (NullCond before Cond so IS NULL never half-matches; ExistsFn before
  // Cond — `exists(` cannot be a property reference; Cond before
  // CrossCond — a literal RHS and a var.prop RHS cannot collide)
  private def atomPrefixRes =
    Seq(NullCondRe, ExistsFnRe, CondRe, CrossCondRe, TypeCondRe)

  /** Tokenize a WHERE clause into boolean structure + comparison atoms.
    * Structure (keywords, parens) is detected on the length-preserving
    * quote-blanked text so literals can never masquerade as syntax; each
    * atom is matched as a PREFIX of the original text at the same offset,
    * so its quoted literal survives intact.
    */
  private def tokenizeWhere(w: String): Either[String, Vector[WTok]] = {
    val blanked = blankQuoted(w)
    val out = Vector.newBuilder[WTok]
    var pos = 0
    var err: Option[String] = None
    while (pos < w.length && err.isEmpty) {
      val restB = blanked.substring(pos)
      if (restB.trim.isEmpty) pos = w.length
      else BoolKwRe.findPrefixMatchOf(restB) match {
        case Some(km) =>
          out += (km.group(1).toUpperCase(java.util.Locale.ROOT) match {
            case "AND" => TAnd
            case "OR" => TOr
            case _ => TNot
          })
          pos += km.end
        case None =>
          LParenRe.findPrefixMatchOf(restB) match {
            case Some(pm) => out += TLParen; pos += pm.end
            case None => RParenRe.findPrefixMatchOf(restB) match {
              case Some(pm) => out += TRParen; pos += pm.end
              case None =>
                val rest = w.substring(pos)
                atomPrefixRes.iterator
                  .flatMap(_.findPrefixMatchOf(rest)).take(1).toList match {
                  case am :: _ =>
                    out += TAtom(rest.substring(0, am.end))
                    pos += am.end
                  case Nil =>
                    err = Some("unsupported WHERE condition at: '" +
                      rest.trim.take(60) + "'")
                }
            }
          }
      }
    }
    err.toLeft(out.result())
  }

  /** Recursive-descent parse of the token stream: expr := term (OR term)*;
    * term := factor (AND factor)*; factor := NOT factor | (expr) | atom.
    */
  private def parseBoolExpr(toks: Vector[WTok])
      : Either[String, BoolExpr] = {
    var i = 0
    def peek: Option[WTok] = if (i < toks.length) Some(toks(i)) else None
    def factor(): Either[String, BoolExpr] = peek match {
      case Some(TNot) => i += 1; factor().map(BNot(_))
      case Some(TLParen) =>
        i += 1
        expr().flatMap { e =>
          if (peek.contains(TRParen)) { i += 1; Right(e) }
          else Left("unbalanced parentheses in WHERE")
        }
      case Some(TAtom(t)) => i += 1; Right(BAtom(t, neg = false))
      case other => Left("expected a comparison in WHERE, got " +
        other.fold("end of clause")(_.toString))
    }
    def term(): Either[String, BoolExpr] = factor().flatMap { l =>
      var acc: Either[String, BoolExpr] = Right(l)
      while (acc.isRight && peek.contains(TAnd)) {
        i += 1
        acc = for { a <- acc; r <- factor() } yield BAnd(a, r)
      }
      acc
    }
    def expr(): Either[String, BoolExpr] = term().flatMap { l =>
      var acc: Either[String, BoolExpr] = Right(l)
      while (acc.isRight && peek.contains(TOr)) {
        i += 1
        acc = for { a <- acc; r <- term() } yield BOr(a, r)
      }
      acc
    }
    expr().flatMap { e =>
      if (i < toks.length)
        Left(s"trailing tokens in WHERE after a complete expression")
      else Right(e)
    }
  }

  /** Tree → DNF of (atom text, negated) with NOT pushed to the leaves by
    * De Morgan (exact in three-valued logic). The group-count cap keeps a
    * pathological alternation from exploding the plan — real LLM queries
    * sit at a handful of groups.
    */
  private def boolToDnf(e: BoolExpr): Seq[Seq[(String, Boolean)]] =
    e match {
      case BAtom(t, n) => Seq(Seq((t, n)))
      case BNot(BAtom(t, n)) => Seq(Seq((t, !n)))
      case BNot(BNot(x)) => boolToDnf(x)
      case BNot(BAnd(a, b)) => boolToDnf(BNot(a)) ++ boolToDnf(BNot(b))
      case BNot(BOr(a, b)) => boolToDnf(BAnd(BNot(a), BNot(b)))
      case BOr(a, b) => boolToDnf(a) ++ boolToDnf(b)
      case BAnd(a, b) =>
        for { x <- boolToDnf(a); y <- boolToDnf(b) } yield x ++ y
    }

  /** Parse a WHERE clause's boolean structure to the engine's DNF of
    * (atom text, negated) pairs — parentheses and NOT groups included.
    */
  private def parseBoolDnf(w: String)
      : Either[String, Seq[Seq[(String, Boolean)]]] =
    for {
      toks <- tokenizeWhere(w)
      tree <- parseBoolExpr(toks)
      dnf = boolToDnf(tree)
      _ <- if (dnf.sizeIs > 64)
        Left("WHERE clause expands to more than 64 OR-groups")
      else Right(())
    } yield dnf

  // textual signature of a pattern-existence term anywhere in a WHERE
  // clause (checked on the quote-blanked text — `( v ) - [` arises in no
  // comparison form)
  private val PatTermRe = """\(\s*\w+\s*\)\s*-\s*\[""".r

  /** Parse a pattern-level WHERE clause shared by the plain and the WITH
    * statement forms: a comparison DNF (OR of AND-groups, standard
    * precedence with optional parentheses and NOT groups), a
    * pattern-existence predicate, or comparisons AND-combined with ONE
    * pattern-existence predicate (`WHERE m.prop = '…' AND NOT
    * (m)-[:R]->()` — the "X without a Y, filtered" staple; the pattern
    * term conjoins as the same semi/anti-join, applied after the
    * comparison filter). A pattern term under OR is rejected (it cannot
    * ride the DNF's column space), as is more than one pattern term.
    * `relVar` admits `type(r) <op> literal` comparisons (a binding-level
    * condition carried on the [[RelTypeProp]] sentinel).
    */
  private def parseWhereClause(m: String, conn: Option[String],
      whereStr: String, relVar: Option[String] = None):
      Either[String, (Seq[Seq[Cond]], Option[ExistsPat])] = {
    // boolean structure (parens, NOT groups, AND/OR at standard
    // precedence) parsed to the engine's DNF of negated atoms
    def onePart(part: String, neg: Boolean): Either[String, Cond] =
          part match {
            case NotCondRe(inner) => onePart(inner, !neg)
            case NullCondRe(v, prop, notKw) if v == m =>
              Right(Cond(prop,
                if (notKw != null) "IS NOT NULL" else "IS NULL", "",
                negated = neg))
            case NullCondRe(v, prop, notKw) if conn.contains(v) =>
              Right(Cond(prop,
                if (notKw != null) "IS NOT NULL" else "IS NULL", "",
                onConn = true, negated = neg))
            // legacy exists(v.prop) ≡ v.prop IS NOT NULL
            case ExistsFnRe(v, prop) if v == m =>
              Right(Cond(prop, "IS NOT NULL", "", negated = neg))
            case ExistsFnRe(v, prop) if conn.contains(v) =>
              Right(Cond(prop, "IS NOT NULL", "", onConn = true,
                negated = neg))
            case ExistsFnRe(v, _) =>
              Left(s"exists() may only test the matched variable '$m'" +
                conn.fold("")(c => s" or the connected variable '$c'") +
                s", got '$v'")
            case CondRe(fnKw, v, prop, close, op, str, num, list)
                if v == m =>
              mkCondFn(fnKw, close, prop, op, str, num, list)
                .map(_.copy(negated = neg))
            case CondRe(fnKw, v, prop, close, op, str, num, list)
                if conn.contains(v) =>
              mkCondFn(fnKw, close, prop, op, str, num, list)
                .map(_.copy(onConn = true, negated = neg))
            // r.prop <op> literal — a binding-level comparison on the
            // traversed edge's property map (the typed-bindings
            // substrate's `r_props` column; a missing key is null and
            // the binding drops, Cypher's rule). Case folds compose
            // (toLower(r.prop) = '…'); numeric literals compare through
            // the same try_cast lens as node properties.
            case CondRe(fnKw, v, prop, close, op, str, num, list)
                if relVar.contains(v) =>
              mkCondFn(fnKw, close, prop, op, str, num, list)
                .map(_.copy(onConn = true, negated = neg,
                  onRelProp = true))
            case NullCondRe(v, prop, notKw) if relVar.contains(v) =>
              Right(Cond(prop,
                if (notKw != null) "IS NOT NULL" else "IS NULL", "",
                onConn = true, negated = neg, onRelProp = true))
            case CondRe(_, v, _, _, _, _, _, _) =>
              Left(s"WHERE may only reference the matched variable '$m'" +
                conn.fold("")(c => s" or the connected variable '$c'") +
                relVar.fold("")(r => s" or the relationship " +
                  s"variable '$r'") + s", got '$v'")
            // v1.p1 <op> v2.p2 — both sides bound variables: a binding-
            // level column-to-column comparison (native string collation)
            case CrossCondRe(v1, p1, op, v2, p2)
                if (v1 == m || conn.contains(v1)) &&
                  (v2 == m || conn.contains(v2)) =>
              Right(Cond(p1,
                op.toUpperCase(java.util.Locale.ROOT)
                  .replaceAll("\\s+", " "), "",
                onConn = conn.contains(v1), negated = neg,
                crossProp = Some(p2), crossOnConn = conn.contains(v2)))
            case CrossCondRe(v1, _, _, v2, _) =>
              Left("a cross-variable WHERE may only reference the matched " +
                s"variable '$m'" +
                conn.fold("")(c => s" or the connected variable '$c'") +
                s", got '$v1' and '$v2'")
            // type(r) <op> literal: a binding-level condition on the
            // traversed edge's type — onRel routes it to the bindings'
            // `r_type` column (onConn rides true so the binding-level
            // filter path engages)
            case TypeCondRe(v, op, str, num, list) if relVar.contains(v) =>
              mkCond("", op, str, num, list)
                .map(_.copy(onConn = true, negated = neg, onRel = true))
            case TypeCondRe(v, _, _, _, _) =>
              Left("WHERE type() may only reference the bound " +
                s"relationship variable" +
                relVar.fold("")(r => s" '$r'") + s", got '$v'")
            case other =>
              Left(s"unsupported WHERE condition: ${other.take(80)}")
          }
    def condDnf(w: String): Either[String, Seq[Seq[Cond]]] =
      parseBoolDnf(w).flatMap { groups =>
        val parsed = groups.map { parts =>
          val cs = parts.map { case (p, neg) => onePart(p, neg) }
          cs.collectFirst { case Left(e) => Left(e) }
            .getOrElse(Right(cs.collect { case Right(c) => c }))
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(g) => g }))
      }
    // EXISTS { (m)-[…]->(…) } → the bare pattern-existence form (the NOT
    // prefix survives the rewrite); everything else passes through
    def debrace(s: String): String = s match {
      case ExistsBraceRe(notKw, inner) =>
        (if (notKw != null) "NOT " else "") + inner
      case other => other
    }
    def onePat(notKw: String, relT: String, hopsK: String,
        connLab: String): Either[String, ExistsPat] =
      if (conn.isDefined)
        Left("a pattern-existence WHERE cannot be combined with a " +
          "hop pattern in MATCH — filter the bound pattern with " +
          "comparisons instead")
      else
        Right(ExistsPat(notKw != null, Option(relT),
          Option(hopsK).map(_.toInt).getOrElse(1), Option(connLab)))
    Option(whereStr).map(_.trim).filter(_.nonEmpty).map(debrace) match {
      case None => Right((Seq.empty, None))
      case Some(ExistsRe(notKw, v, relT, hopsK, connLab)) if v == m =>
        onePat(notKw, relT, hopsK, connLab).map(ep => (Seq.empty, Some(ep)))
      case Some(ExistsRe(_, v, _, _, _)) =>
        Left(s"pattern-existence WHERE must anchor the matched " +
          s"variable '$m', got '$v'")
      case Some(w) if PatTermRe.findFirstIn(blankQuoted(w)).isDefined =>
        // comparisons AND-combined with a pattern-existence term: split
        // on TOP-LEVEL ANDs (depth tracked on the blanked text), peel the
        // pattern term(s), conjoin the remainder as the usual DNF
        val blanked = blankQuoted(w)
        if (topLevelOr(blanked))
          Left("a pattern-existence predicate may only combine with " +
            "other conditions via AND — under OR it cannot ride the " +
            "comparison filter's column space")
        else {
          val parts = splitTopLevelAnd(w, blanked).map(p => debrace(p.trim))
          val (patParts, condParts) = parts.partition(p =>
            PatTermRe.findFirstIn(blankQuoted(p)).isDefined)
          val epsE: Either[String, Seq[ExistsPat]] = {
            val es = patParts.map {
              // the degree THRESHOLD first: its `size((m)-[` prefix
              // would otherwise half-match the bare existence shape
              case SizeCondRe(notKw, v, relT, connLab, op, n) if v == m =>
                if (conn.isDefined)
                  Left("a size() threshold cannot be combined with a " +
                    "hop pattern in MATCH — aggregate with WITH instead")
                else Right(ExistsPat(notKw != null, Option(relT), 1,
                  Option(connLab), Some((op, n.toInt))))
              case SizeCondRe(_, v, _, _, _, _) =>
                Left(s"size() in WHERE may only anchor the matched " +
                  s"variable '$m', got '$v'")
              case ExistsRe(notKw, v, relT, hopsK, connLab) if v == m =>
                onePat(notKw, relT, hopsK, connLab)
              case ExistsRe(_, v, _, _, _) =>
                Left(s"pattern-existence WHERE must anchor the matched " +
                  s"variable '$m', got '$v'")
              case bad =>
                Left("unsupported pattern-existence conjunct: " +
                  s"'${bad.take(60)}'")
            }
            es.collectFirst { case Left(e) => Left(e) }
              .getOrElse(Right(es.collect { case Right(e) => e }))
          }
          epsE.flatMap { eps =>
            if (eps.sizeIs > 1)
              Left("at most one pattern-existence predicate per WHERE " +
                "clause")
            else if (condParts.isEmpty)
              Right((Seq.empty, eps.headOption))
            else condDnf(condParts.mkString(" AND "))
              .map(cs => (cs, eps.headOption))
          }
        }
      case Some(w) => condDnf(w).map(cs => (cs, None))
    }
  }

  /** Split a WHERE clause on its TOP-LEVEL `AND` tokens only — an AND
    * inside parentheses/brackets or a quoted literal never splits
    * (`blanked` is the length-preserving quote-blanked text of `w`).
    */
  private def splitTopLevelAnd(w: String, blanked: String): Seq[String] = {
    val cuts = Seq.newBuilder[(Int, Int)]
    var depth = 0
    """(?i)[()\[\]]|\bAND\b""".r.findAllMatchIn(blanked).foreach { mt =>
      mt.matched match {
        case "(" | "[" => depth += 1
        case ")" | "]" => depth -= 1
        case _ if depth == 0 => cuts += ((mt.start, mt.end))
        case _ => ()
      }
    }
    val bounds = ((0, 0) +: cuts.result()) :+ ((w.length, w.length))
    bounds.sliding(2).map { case Seq((_, a), (b, _)) =>
      w.substring(a, b)
    }.toSeq
  }

  private def topLevelOr(blanked: String): Boolean = {
    var depth = 0
    var found = false
    """(?i)[()\[\]]|\bX?OR\b""".r.findAllMatchIn(blanked).foreach { mt =>
      mt.matched match {
        case "(" | "[" => depth += 1
        case ")" | "]" => depth -= 1
        case _ if depth == 0 => found = true
        case _ => ()
      }
    }
    found
  }

  /** One comparison from its regex pieces — the literal is either quoted
    * (string comparison), a bare numeric, or a bracketed IN list; string
    * predicates (STARTS WITH &c.) over a numeric literal are a type
    * error, not a silent string coercion. Ops normalize to canonical form
    * under Locale.ROOT (the default locale would turn WITH into WİTH
    * under tr/az and miss every case).
    */
  private def mkCond(prop: String, op0: String, str: String, num: String,
      listStr: String): Either[String, Cond] = {
    val op = op0.toUpperCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ")
    if (op == "IN") {
      if (listStr == null)
        Left("IN requires a bracketed list: IN ['a', 'b'] or IN [1, 2]")
      else {
        // empty list is valid Cypher (`IN []` matches nothing); elements
        // split on commas — a quoted element containing a comma shreds
        // into unparseable pieces and errors loudly
        val pieces =
          if (listStr.trim.isEmpty) Seq.empty[String]
          else listStr.split(",", -1).toSeq
        val parsed = pieces.map {
          case ListStrRe(s) => Right((s, false))
          case ListNumRe(n) => Right((n, true))
          case bad => Left("unparseable IN-list element: " +
            s"'${bad.trim.take(40)}'")
        }
        parsed.collectFirst { case Left(e) => Left(e) }.getOrElse {
          val elems = parsed.collect { case Right(e) => e }
          if (elems.map(_._2).distinct.sizeIs > 1)
            Left("IN list must be all-string or all-numeric")
          else Right(Cond(prop, "IN", "",
            numeric = elems.headOption.exists(_._2),
            values = elems.map(_._1)))
        }
      }
    }
    else if (listStr != null)
      Left(s"a bracketed list is only valid with IN, got $op")
    else if (num != null && !ComparisonOps(op))
      Left(s"$op requires a quoted string literal, got $num")
    else if (num != null)
      Right(Cond(prop, op, num, numeric = true))
    else Right(Cond(prop, op, str))
  }

  /** [[mkCond]] plus the optional toLower/toUpper LHS wrapper from
    * [[CondRe]]'s paired groups: the open (fn keyword) and close paren
    * must appear together, and a case fold over a NUMERIC comparison
    * (bare literal or numeric IN list) is a type error — Cypher's
    * toLower/toUpper are string → string.
    */
  private def mkCondFn(fnKw: String, close: String, prop: String,
      op: String, str: String, num: String, list: String)
      : Either[String, Cond] =
    if ((fnKw != null) != (close != null))
      Left("unbalanced parentheses in a toLower/toUpper/size(...) " +
        "wrapper")
    else mkCond(prop, op, str, num, list).flatMap { c =>
      val fn = Option(fnKw).map(_.toLowerCase(java.util.Locale.ROOT))
      // size(...) is a NUMERIC lens (string length, r14); the case
      // folds compare strings — each rejects the other's literal kind
      if (fn.exists(_ != "size") && c.numeric)
        Left("toLower/toUpper(...) compares against quoted strings, " +
          s"got a numeric literal")
      else if (fn.contains("size") && !c.numeric)
        Left("size(...) compares against numeric literals, got a " +
          "quoted string")
      else Right(c.copy(fn = fn))
    }

  /** `(c:Label)` / `(c {prop: 'v'})` pattern sugar: desugars to equality
    * conditions on the connected variable, AND-distributed into EVERY
    * OR-group so the constraints conjoin with the whole WHERE clause.
    */
  private def connSugar(connLabel: String, connPropsStr: String,
      conds: Seq[Seq[Cond]]): Seq[Seq[Cond]] = {
    val sugar =
      Option(connLabel).map(l =>
        Cond("label", "=", l, onConn = true)).toSeq ++
      Option(connPropsStr).toSeq.flatMap(s =>
        PropRe.findAllMatchIn(s).map(p =>
          Cond(p.group(1), "=", p.group(2), onConn = true)))
    if (sugar.isEmpty) conds
    else if (conds.isEmpty) Seq(sugar)
    else conds.map(_ ++ sugar)
  }

  /** `-[r:T {prop: 'v'}]->` inline relationship-map sugar: desugars to
    * equality conditions on the traversed edge's property map (the
    * typed-bindings substrate's `r_props` column), AND-distributed into
    * every OR-group — same rule as [[connSugar]]. Sorted for a
    * deterministic condition order.
    */
  private def relSugar(relProps: Map[String, String],
      conds: Seq[Seq[Cond]]): Seq[Seq[Cond]] = {
    val sugar = relProps.toSeq.sortBy(_._1).map { case (k, v) =>
      Cond(k, "=", v, onConn = true, onRelProp = true) }
    if (sugar.isEmpty) conds
    else if (conds.isEmpty) Seq(sugar)
    else conds.map(_ ++ sugar)
  }

  // UNWIND ['v', …] AS x <rest> — the list prefix LLMs emit for "for
  // each of these" prompts. Desugared by rewriting every `= x`
  // comparison in <rest> to `IN [list]` (positions located on the
  // quote-blanked text so a literal can never be corrupted; `<= x` /
  // `>= x` are protected by the lookbehind) and re-parsing. r15 adds
  // the two sibling spellings: the REVERSED comparison `x = v.prop`
  // (same rewrite, span replaced whole) and the INLINE-MAP form
  // `MATCH (v:L {k: x})` (desugared to the WHERE-conjunct spelling
  // first — see [[desugarUnwindMaps]]). Since r15
  // the variable may also RIDE THE PROJECTION (`RETURN x, count(n)` —
  // the per-value aggregate staple): a RETURN item that is exactly `x`
  // rewrites to the compared property (`v.prop AS x`, keeping an
  // explicit AS if present), which is value-identical to the UNWIND
  // binding because `v.prop = x` equates them — grouping by the alias
  // IS Cypher's grouping by x, and an ORDER BY x resolves through the
  // alias untouched. Bag semantics (r16): a DUPLICATE list element
  // multiplies bindings and scales aggregates exactly as Cypher's bag —
  // duplicate lists route to [[parseUnwindBag]] (per-occurrence union +
  // re-aggregation); the IN rewrite here serves distinct lists, where
  // set membership and bag membership coincide. Projection
  // shapes beyond a whole-item `x` (an `x` inside a function call, in
  // WHERE beyond `= x`, or in a WITH stage) reject by name.
  private val UnwindPrefixRe =
    """(?is)\s*UNWIND\s*\[([^\]]*)\]\s+AS\s+(\w+)\s+(.*)""".r

  // pattern-less `RETURN <number|'string'> [AS alias]` — see the
  // parseStmt case
  private val ReturnLiteralRe =
    """(?is)\s*RETURN\s+(?:(-?\d+(?:\.\d+)?)|'([^']*)')(?:\s+AS\s+(\w+))?\s*;?\s*""".r

  /** The inline-map UNWIND spelling `MATCH (v:L {k: x, …})` — the most
    * common LLM form — desugared to the WHERE-conjunct spelling
    * (`MATCH (v:L {…}) WHERE v.k = x AND (…)`) BEFORE the `= x`
    * machinery runs, so both spellings share one rewrite path. The map
    * entry is excised (comma-repaired; an emptied map drops its
    * braces), and the conjunct lands at the clause's WHERE — ANDed in
    * front with the existing body parenthesized, so an OR inside it
    * cannot leak around the new conjunct. Scoped to single-MATCH
    * bodies (multi-clause/OPTIONAL placement is ambiguous — named
    * rejection rather than a guessed clause).
    */
  private def desugarUnwindMaps(rest: String, x: String)
      : Either[String, String] = {
    val blanked = blankQuoted(rest)
    val xq = java.util.regex.Pattern.quote(x)
    val patRe = """\(\s*(\w+)((?:\s*:\s*\w+)*)\s*\{([^}]*)\}\s*\)""".r
    val entryRe = ("""(\w+)\s*:\s*""" + xq + """\b""").r
    val hits = patRe.findAllMatchIn(blanked).toList.flatMap { pm =>
      entryRe.findAllMatchIn(pm.group(3)).toList.map(em => (pm, em))
    }
    if (hits.isEmpty) Right(rest)
    else if ("""(?is)\bOPTIONAL\b""".r.findFirstIn(blanked).isDefined ||
        """(?i)\bMATCH\b""".r.findAllMatchIn(blanked).size != 1)
      Left(s"the UNWIND variable '$x' in an inline property map is " +
        "supported on single-MATCH bodies only — spell the comparison " +
        s"as WHERE v.prop = $x there")
    else {
      // per pattern: a map whose EVERY entry is a `k: x` entry drops
      // its braces whole; otherwise each x-entry is excised with one
      // adjacent comma. Spans computed on the blanked text (length-
      // preserving), cut from the original.
      val allCuts = hits.groupBy(_._1).toList.flatMap { case (pm, hs) =>
        val keyTokens =
          """\w+\s*:""".r.findAllMatchIn(pm.group(3)).size
        if (hs.size == keyTokens)
          // the regex puts `{` immediately before group 3, `}` at its end
          Seq((pm.start(3) - 1, pm.end(3) + 1))
        else hs.map { case (_, em) =>
          val base = pm.start(3)
          var (s0, e0) = (base + em.start, base + em.end)
          val after = rest.substring(e0, pm.end(3))
          if (after.trim.startsWith(",")) e0 += after.indexOf(',') + 1
          else {
            val before = rest.substring(base, s0)
            if (before.trim.endsWith(","))
              s0 = base + before.lastIndexOf(',')
          }
          (s0, e0)
        }
      }.sortBy(_._1)
      val conjs = hits.map { case (pm, em) =>
        s"${pm.group(1)}.${em.group(1)} = $x" }
      val sb = new StringBuilder
      var prev = 0
      allCuts.foreach { case (s0, e0) =>
        sb.append(rest.substring(prev, s0)); prev = e0 }
      sb.append(rest.substring(prev))
      val cutRest = sb.toString
      // inject the conjuncts at the clause's WHERE (AND in front, the
      // existing body parenthesized) or mint one before the next clause
      val cb = blankQuoted(cutRest)
      val whereM = """(?is)\bWHERE\b""".r.findFirstMatchIn(cb)
      // next clause keyword AFTER the WHERE body: a clause-level WITH
      // only (the `STARTS/ENDS WITH` comparison operators must not end
      // the body — same filter as ClauseWithRe)
      val kwStarts =
        """(?is)\b(RETURN|ORDER|SKIP|LIMIT|SET|DETACH)\b""".r
          .findAllMatchIn(cb).map(_.start).toList ++
          """(?is)\b(?:(STARTS|ENDS)\s+)?WITH\b""".r
            .findAllMatchIn(cb).filter(_.group(1) == null)
            .map(_.start).toList
      def nextKwAfter(pos: Int): Option[Int] =
        kwStarts.filter(_ >= pos).minOption
      val conj = conjs.mkString(" AND ")
      whereM match {
        case Some(w) =>
          val bodyEnd = nextKwAfter(w.end).getOrElse(cb.length)
          val body = cutRest.substring(w.end, bodyEnd).trim
          Right(cutRest.substring(0, w.end) + s" $conj AND ($body) " +
            cutRest.substring(bodyEnd))
        case None =>
          val at = nextKwAfter(0).getOrElse(cb.length)
          Right(cutRest.substring(0, at) + s"WHERE $conj " +
            cutRest.substring(at))
      }
    }
  }

  /** `UNWIND` with DUPLICATE list elements — Cypher's bag multiplicity
    * (r16 directive 4): each occurrence contributes its own bindings,
    * so duplicates multiply rows and scale aggregates. Executed as the
    * per-OCCURRENCE union of the single-element rewrites (each element
    * reuses the whole `= x` machinery), which is the bag by
    * construction:
    *  - `RETURN DISTINCT …` dedups the bag anyway → the deduplicated
    *    IN fast path is value-identical (no union needed);
    *  - aggregate-free tails union as-is;
    *  - count/sum/min/max aggregates (aliased, non-DISTINCT) union the
    *    per-element PARTIAL aggregates and re-aggregate — count/sum by
    *    sum, min by min, max by max — exactly the bag totals;
    *  - avg/collect (not re-aggregable from partials),
    *    DISTINCT-inside-aggregate (dedups ACROSS the bag), and
    *    ORDER BY/SKIP/LIMIT tails (row-order across the union) reject
    *    by name rather than answer wrongly.
    */
  private def parseUnwindBag(elems: Seq[String], x: String,
      rest: String, params: Map[String, String])
      : Either[String, Statement] = {
    val blanked = blankQuoted(rest)
    // a chained WITH stage inside the tail breaks BOTH bag paths: the
    // per-element union would filter a HAVING against per-element
    // PARTIAL counts (c=1 rows die before the re-aggregation — empty
    // where Cypher answers the bag totals), and the RETURN DISTINCT
    // fast path would dedup the list UNDER an aggregating stage and
    // halve its counts. Reject by name BEFORE either path; located via
    // ClauseWithRe so STARTS/ENDS WITH comparisons never trigger it.
    if (ClauseWithRe.findAllMatchIn(blanked).exists(_.group(1) == null))
      Left("a WITH stage after a duplicated UNWIND list cannot " +
        "re-aggregate per-element partials across the bag — " +
        "deduplicate the list or drop the WITH stage")
    else if ("""(?is)\bRETURN\s+DISTINCT\b""".r
        .findFirstIn(blanked).isDefined)
      rewriteUnwind(elems.distinct.mkString(", "), x, rest)
        .flatMap(parse(_, params))
    else if ("""(?is)\b(ORDER\s+BY|LIMIT|SKIP)\b""".r
        .findFirstIn(blanked).isDefined)
      Left("ORDER BY/SKIP/LIMIT over a duplicated UNWIND list is " +
        "order-dependent across the bag — deduplicate the list or " +
        "drop the ordering")
    else if ("""(?is)\b(avg|collect)\s*\(""".r
        .findFirstIn(blanked).isDefined)
      Left("avg()/collect() over a duplicated UNWIND list cannot " +
        "re-aggregate across the bag — deduplicate the list or use " +
        "count/sum/min/max")
    else if ("""(?is)\b(count|sum|min|max)\s*\(\s*DISTINCT\b""".r
        .findFirstIn(blanked).isDefined)
      Left("aggregate(DISTINCT …) over a duplicated UNWIND list " +
        "dedups across the whole bag, which the per-occurrence union " +
        "cannot express — deduplicate the list")
    else {
      val aggRe =
        """(?is)\b(count|sum|min|max)\s*\(\s*[^()]*\)\s+AS\s+(\w+)""".r
      val reAgg = aggRe.findAllMatchIn(blanked).map(m =>
        (m.group(2), m.group(1).toLowerCase(java.util.Locale.ROOT)))
        .toSeq
      if (FlatAggCallRe.findAllMatchIn(blanked).size != reAgg.size)
        Left("alias every aggregate (`count(…) AS c`) under a " +
          "duplicated UNWIND list so the bag re-aggregation can " +
          "target its column")
      else {
        val rewrites = elems.map(e => rewriteUnwind(e, x, rest))
        rewrites.collectFirst { case Left(er) => Left(er) }.getOrElse {
          val qs = rewrites.collect { case Right(s) => s }
          // probe-parse one instance (all share the shape) so parse
          // errors surface at parse time, not first execution
          parse(qs.head, params).map(_ => UnwindBag(qs, reAgg))
        }
      }
    }
  }

  private def rewriteUnwind(listStr: String, x: String,
      rest0: String): Either[String, String] = {
    // duplicate lists never reach this rewrite: parseStmt routes them
    // to parseUnwindBag (r16 — true bag multiplicity), so IN-list set
    // membership here is value-identical to Cypher's bag
    val rest = desugarUnwindMaps(rest0, x) match {
      case Left(e) => return Left(e)
      case Right(r) => r
    }
    val blanked = blankQuoted(rest)
    val xq = java.util.regex.Pattern.quote(x)
    val cmpRe = ("""(?<![<>=!])=\s*""" + xq + """\b""").r
    val cmps = cmpRe.findAllMatchIn(blanked).toList
    // the REVERSED spelling `x = v.prop` (r15): same comparison, x on
    // the left — the whole span rewrites to `v.prop IN [list]`
    val revRe = ("""(?<![\w.])""" + xq +
      """\s*=\s*(\w+)\s*\.\s*(\w+)""").r
    val revs = revRe.findAllMatchIn(blanked).toList
    // the compared property each `= x` equates: the dotted projection
    // immediately left of the comparison — needed only when x is
    // projected, and then it must be UNIQUE (several different
    // properties equated to x would make `RETURN x` ambiguous)
    val cmpProps = (cmps.flatMap { mm =>
      """(\w+)\s*\.\s*(\w+)\s*$""".r
        .findFirstMatchIn(blanked.substring(0, mm.start))
        .map(pm => s"${pm.group(1)}.${pm.group(2)}")
    } ++ revs.map(mm => s"${mm.group(1)}.${mm.group(2)}")).distinct
    // standalone x tokens outside the `= x` / `x = v.prop` comparisons
    val cmpSpans = cmps.map(mm => (mm.start, mm.end)) ++
      revs.map(mm => (mm.start, mm.end))
    val tokRe = ("""(?<![\w.])""" + xq + """\b(?!\s*\.)""").r
    val toks = tokRe.findAllMatchIn(blanked).toList
      .filterNot(t => cmpSpans.exists(s => t.start >= s._1 && t.end <= s._2))
    if (cmps.isEmpty && revs.isEmpty && toks.isEmpty)
      return Left(s"the UNWIND variable '$x' is never compared with = " +
        "in the query body")
    val retM = """(?i)\bRETURN\b""".r.findFirstMatchIn(blanked)
    val obStart = """(?i)\bORDER\s+BY\b""".r.findFirstMatchIn(blanked)
      .map(_.start).getOrElse(blanked.length)
    // classify each standalone token: a whole RETURN item (preceded by
    // RETURN/comma, followed by comma/AS/ORDER/SKIP/LIMIT/end) rewrites;
    // one under ORDER BY resolves through the alias and stays; anything
    // else is a named rejection
    sealed trait Tok
    case object InOrderBy extends Tok
    final case class RetItemTok(start: Int, end: Int, aliased: Boolean)
      extends Tok
    val classified = toks.map { t =>
      val before = blanked.substring(0, t.start).trim
      val after = blanked.substring(t.end).trim
      val isItem = retM.exists(r => t.start > r.end) &&
        (before.toUpperCase(java.util.Locale.ROOT).endsWith("RETURN") ||
          before.toUpperCase(java.util.Locale.ROOT).endsWith("DISTINCT") ||
          before.endsWith(",")) &&
        (after.isEmpty || after.startsWith(",") ||
          """(?is)^(AS|ORDER|SKIP|LIMIT)\b.*""".r.matches(after))
      if (t.start >= obStart) Right(InOrderBy)
      else if (isItem) Right(RetItemTok(t.start, t.end,
        """(?is)^AS\b.*""".r.matches(after)))
      else Left(s"the UNWIND variable '$x' may appear in `= $x` " +
        "comparisons and as a whole RETURN item — got it at " +
        s"'…${rest.substring(math.max(0, t.start - 12), t.end)}'")
    }
    classified.collectFirst { case Left(e) => Left(e) }.getOrElse {
      val items = classified.collect { case Right(r: RetItemTok) => r }
      if (items.nonEmpty && cmpProps.isEmpty)
        Left(s"RETURN $x needs the UNWIND variable equated to a " +
          s"property (WHERE v.prop = $x) so the projection has a value")
      else if (items.nonEmpty && cmpProps.sizeIs > 1)
        Left(s"RETURN $x is ambiguous: '$x' is equated to several " +
          s"properties (${cmpProps.mkString(", ")})")
      else {
        // splice all rewrites in one left-to-right pass over `rest`:
        // `= x` keeps its LHS (span replaces just the comparison tail),
        // the reversed `x = v.prop` span replaces whole
        val edits =
          (cmps.map(mm => (mm.start, mm.end, s"IN [$listStr]")) ++
            revs.map(mm => (mm.start, mm.end,
              s"${mm.group(1)}.${mm.group(2)} IN [$listStr]")) ++
            items.map(t => (t.start, t.end,
              cmpProps.head + (if (t.aliased) "" else s" AS $x"))))
            .sortBy(_._1)
        val sb = new StringBuilder
        var prev = 0
        edits.foreach { case (s0, e0, rep) =>
          sb.append(rest.substring(prev, s0)).append(rep)
          prev = e0
        }
        sb.append(rest.substring(prev))
        Right(sb.toString)
      }
    }
  }

  // one property entry: `key: 'literal'` or `key: $param` — the
  // parameterized spelling the reference's driver emits
  // (`new_final.js:23-30`: `{name: $name, content: $content}`)
  private val PropOrParamRe = """(\w+)\s*:\s*(?:'([^']*)'|\$(\w+))""".r

  /** Resolve a write-pattern property map, substituting `$param` values
    * from `params`. Resolution happens AFTER tokenizing (never by text
    * splicing), so a parameter value may contain quotes or any other
    * Cypher syntax without re-parsing hazards — the reason Cypher has
    * parameters at all.
    */
  private def resolveProps(propsStr: String, params: Map[String, String])
      : Either[String, Map[String, String]] = {
    val entries = PropOrParamRe.findAllMatchIn(propsStr).toSeq
    entries.foldLeft[Either[String, Map[String, String]]](Right(Map.empty)) {
      (acc, m) => acc.flatMap { done =>
        val k = m.group(1)
        if (m.group(2) != null) Right(done + (k -> m.group(2)))
        else params.get(m.group(3)) match {
          case Some(v) => Right(done + (k -> v))
          case None => Left(s"missing parameter $$${m.group(3)} " +
            s"(have: ${params.keys.toSeq.sorted.mkString(", ")})")
        }
      }
    }
  }

  /** Shared body of CREATE/MERGE: validate the property map and build the
    * match-or-create statement.
    */
  private def parseCreate(label: String, batch: Option[String],
      propsStr: String, params: Map[String, String])
      : Either[String, Statement] = {
    val allowed = Set("name", "content", "docnbr")
    for {
      props <- resolveProps(propsStr, params)
      _ <- props.keys.find(!allowed(_)).map(k =>
        Left(s"unsupported CREATE/MERGE property: $k " +
          s"(supported: ${allowed.toSeq.sorted.mkString(", ")})"))
        .getOrElse(Right(()))
      _ <- if (!props.contains("name"))
        Left("CREATE/MERGE requires a name property — node identity " +
          "hashes (label, name, content, docnbr)")
      else Right(())
    } yield CreateNode(label, props, batch)
  }

  /** Parse the ON CREATE/ON MATCH block of a branch-aware MERGE: each
    * clause must write `<mergeVar>.content`, appear at most once, and
    * carry a literal or `$param` value (resolved here, like
    * [[resolveProps]] — never by text splicing).
    */
  private def parseMergeOnSet(v: String, label: String,
      batch: Option[String], propsStr: String, onBlock: String,
      params: Map[String, String]): Either[String, Statement] = {
    // each branch clause captures its full comma-separated assignment
    // LIST (r15 — the node side now writes any USER property, so
    // `ON CREATE SET n.content = '…', n.name = '…'` is legitimate);
    // assignments re-scan with OnSetAssignRe, same as the edge form
    val clauses = OnSetMultiClauseRe.findAllMatchIn(onBlock).toSeq
    def branchMap(listStr: String)
        : Either[String, Map[String, String]] = {
      val ms = OnSetAssignRe.findAllMatchIn(listStr).toSeq
      ms.foldLeft[Either[String, Map[String, String]]](Right(Map.empty)) {
        (acc, m) => acc.flatMap { done =>
          val (sv, prop) = (m.group(1), m.group(2))
          if (sv != v)
            Left(s"ON CREATE/ON MATCH SET may only write the merged " +
              s"variable '$v', got '$sv'")
          else if (!SupportedProps(prop))
            Left(if (prop == "label" || prop == "batch")
              s"'$prop' is not a node property in this engine's model " +
                "(fixed user columns content/name/docnbr plus the " +
                "label kind and batch lineage columns)"
            else s"unsupported ON SET property: $prop (writable: " +
              s"${SupportedProps.toSeq.sorted.mkString(", ")}; note " +
              "the SET does not re-key the node — its id keeps " +
              "hashing the values it was merged with, so MERGE again " +
              "with the ORIGINAL pattern)")
          else if (done.contains(prop))
            Left(s"duplicate property '$prop' in one ON SET clause")
          else (if (m.group(3) != null) Right(m.group(3))
            else params.get(m.group(4))
              .toRight(s"missing parameter $$${m.group(4)} " +
                s"(have: ${params.keys.toSeq.sorted.mkString(", ")})"))
            .map(vv => done + (prop -> vv))
        }
      }
    }
    for {
      node <- parseCreate(label, batch, propsStr, params)
      kinds = clauses.map(_.group(1).toUpperCase)
      _ <- if (kinds.distinct.size != kinds.size)
        Left("at most one ON CREATE SET and one ON MATCH SET clause")
      else Right(())
      resolved <- clauses
        .foldLeft[Either[String, Map[String, Map[String, String]]]](
          Right(Map.empty)) { (acc, m) => acc.flatMap(done =>
            branchMap(m.group(2)).map(bm =>
              done + (m.group(1).toUpperCase -> bm)))
        }
    } yield MergeNodeOnSet(node.asInstanceOf[CreateNode],
      resolved.get("CREATE"), resolved.get("MATCH"))
  }

  /** Parse the edge-MERGE statement: both MATCH sides + every MERGE
    * clause, with clause variables validated against the matched pair.
    */
  private def parseMergeEdges(groups: Seq[String],
      mergeBlock: String, params: Map[String, String])
      : Either[String, Statement] = {
    val Seq(aV, aL, aB, aP, bV, bL, bB, bP) = groups
    val rawClauses = MergeEdgeClauseRe.findAllMatchIn(mergeBlock)
      .map(m => (m.group(1), m.group(2), Option(m.group(3)), m.group(4)))
      .toSeq
    val allowed = Set("name", "content", "docnbr")
    for {
      _ <- if (aV == bV)
        Left(s"edge MERGE needs two distinct match variables, got '$aV' twice")
      else Right(())
      aProps <- resolveProps(Option(aP).getOrElse(""), params)
      bProps <- resolveProps(Option(bP).getOrElse(""), params)
      _ <- (aProps.keys ++ bProps.keys).find(!allowed(_)).map(k =>
        Left(s"unsupported match property: $k " +
          s"(supported: ${allowed.toSeq.sorted.mkString(", ")})"))
        .getOrElse(Right(()))
      // clause props (edge properties, e.g. {weight: '2'}) are an OPEN
      // map — EdgeRow.props is schemaless by design, so any key goes
      clauses <- rawClauses.foldLeft[Either[String, Seq[MergeClause]]](
        Right(Seq.empty)) { (acc, c) => acc.flatMap(done =>
          resolveProps(c._3.getOrElse(""), params)
            .map(ps => done :+ MergeClause(c._1, c._2, c._4, ps)))
      }
      _ <- clauses.flatMap(c => Seq(c.srcVar, c.dstVar))
        .find(v => v != aV && v != bV)
        .map(v => Left(s"MERGE clause references unmatched variable '$v' " +
          s"(matched: $aV, $bV)")).getOrElse(Right(()))
      _ <- clauses.find(c => c.srcVar == c.dstVar).map(c =>
        Left(s"self-loop MERGE (${c.srcVar})-[:${c.relType}]->" +
          s"(${c.dstVar}) is not supported")).getOrElse(Right(()))
    } yield MergeEdges(
      MergePat(aV, aL, Option(aB), aProps),
      MergePat(bV, bL, Option(bB), bProps), clauses)
  }

  /** Parse a quantifier's inner WHERE (`QUANT(x IN relationships(p)
    * WHERE <atoms over x.prop>)`) into the per-edge DNF — shared by the
    * ranged-pattern quantifiers and the quantified shortestPath form so
    * the atom grammar cannot drift between them.
    */
  private def parseQuantConds(x: String, w: String, quantName: String)
      : Either[String, Seq[Seq[Cond]]] = {
    def onePart(part: String, neg: Boolean): Either[String, Cond] =
      part match {
        case NullCondRe(v, prop, notKw) if v == x =>
          Right(Cond(prop,
            if (notKw != null) "IS NOT NULL" else "IS NULL", "",
            negated = neg, onRelProp = true))
        case ExistsFnRe(v, prop) if v == x =>
          Right(Cond(prop, "IS NOT NULL", "", negated = neg,
            onRelProp = true))
        case CondRe(fnKw, v, prop, close, op, str, num, list)
            if v == x =>
          mkCondFn(fnKw, close, prop, op, str, num, list)
            .map(_.copy(negated = neg, onRelProp = true))
        case other =>
          Left(s"$quantName(…) may only compare the quantified " +
            s"variable's properties ($x.<prop>), got " +
            s"'${other.trim.take(40)}'")
      }
    parseBoolDnf(w).flatMap { groups =>
      val parsed = groups.map { parts =>
        val cs = parts.map { case (p, neg) => onePart(p, neg) }
        cs.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(cs.collect { case Right(c) => c }))
      }
      parsed.collectFirst { case Left(e) => Left(e) }
        .getOrElse(Right(parsed.collect { case Right(g) => g }))
    }
  }

  /** Direction of a path-form relationship bracket from its captured
    * arrow heads: `->` outgoing, `<-` incoming, neither = undirected
    * (`both`); both-ended arrows reject (the hop grammar's rule).
    */
  private def dirOf(l: String, r: String): Either[String, String] =
    (Option(l), Option(r)) match {
      case (Some(_), Some(_)) => Left("a relationship pattern cannot " +
        "point both ways — drop one arrow head (or both, for the " +
        "undirected form -[…]-)")
      case (Some(_), None) => Right("in")
      case (None, Some(_)) => Right("out")
      case (None, None) => Right("both")
    }

  /** Parse the path-quantified ranged pattern ([[PathQuantReturn]]):
    * validates the variable namespace, the range bounds (path
    * enumeration is capped at hi ≤ 8 — beyond that the bag of paths is
    * not a serving-layer answer), the ALL(…) inner WHERE (x.prop atoms
    * through the standard boolean DNF), and the RETURN items
    * (endpoint props, length(p), at most one reduce() sum).
    */
  /** Internal column names of the [[runPathQuant]] frontier/edge
    * relations (lowercase). A reduce() alias matching one of these
    * (case-insensitive — Spark's default resolution) is rejected at
    * parse so the executor's rename can never manufacture a duplicate
    * column (ADVICE r13).
    */
  private val PQReservedCols: Set[String] = Set(
    "root_id", "cur", "path_len", "path_nodes", "path_rels",
    "hits", "unks", "hit", "unk", "visited", "nds", "rels",
    "w", "eid", "src", "dst", "dst_name")

  private def parsePathQuant(pathVar: String, aVar: String,
      aLabel: Option[String], aPropsStr: String, relVar: Option[String],
      relType: Option[String], lo: Int, hi: Int, bVar: String,
      bLabel: Option[String], bPropsStr: String, quantKw: Option[String],
      allVar: Option[String],
      allPRef: Option[String], allWhere: Option[String], retStr: String,
      obStr: Option[String], obDirS: Option[String],
      limitStr: Option[String], dir: String = "out")
      : Either[String, Statement] = {
    def propsOf(s: String): Map[String, String] =
      Option(s).toSeq.flatMap(x => PropRe.findAllMatchIn(x)
        .map(p => p.group(1) -> p.group(2))).toMap
    val bound = Seq(Some(pathVar), Some(aVar), Some(bVar), relVar,
      allVar).flatten
    for {
      _ <- if (bound.distinct.size != bound.size)
        Left("path-query variables must be distinct, got " +
          bound.mkString(", "))
      else Right(())
      _ <- if (lo < 1) Left("the range lower bound must be >= 1")
      else Right(())
      _ <- if (hi < lo)
        Left(s"empty range *$lo..$hi (upper bound below lower)")
      else Right(())
      _ <- if (hi > 8)
        Left(s"range upper bound *..$hi exceeds the path-enumeration " +
          "cap (8): a longer bag of paths is not a serving answer — " +
          "use shortestPath or the reachability forms")
      else Right(())
      _ <- allPRef.filter(_ != pathVar).map(p =>
        Left(s"relationships() may only take the path variable " +
          s"'$pathVar', got '$p'")).getOrElse(Right(()))
      allConds <- (allVar, allWhere) match {
        case (Some(x), Some(w)) =>
          parseQuantConds(x, w, quantKw.getOrElse("ALL"))
        case _ => Right(Seq.empty)
      }
      items <- {
        def one(body: String, alias: Option[String])
            : Either[String, PathQItem] = body match {
          case ReduceRe(acc, x2, p2, accRef, xRef, prop) =>
            if (p2 != pathVar)
              Left(s"reduce() must iterate relationships($pathVar), " +
                s"got relationships($p2)")
            else if (acc != accRef || x2 != xRef)
              Left("reduce() accumulator/iterator names must match " +
                s"($acc = 0 … | $accRef + …; $x2 IN … | … $xRef.<prop>)")
            // an alias equal to one of the executor's internal frontier
            // columns would make the final withColumnRenamed create a
            // DUPLICATE column and fail downstream with an
            // ambiguous-reference AnalysisException — reject by name
            // instead (ADVICE r13). "total" itself is fine (no rename).
            else if (PQReservedCols.contains(alias.getOrElse("total")
                .toLowerCase(java.util.Locale.ROOT)))
              Left(s"reduce() alias '${alias.getOrElse("total")}' is " +
                "reserved by the path executor (" +
                PQReservedCols.toSeq.sorted.mkString(", ") +
                ") — pick another name")
            else Right(PQReduce(prop, alias.getOrElse("total")))
          case LengthRe(v) if v == pathVar =>
            if (alias.isDefined)
              Left("length(p) projects as the fixed column path_len — " +
                "drop the alias")
            else Right(PQLen)
          case LengthRe(v) => Left("length() may only take the path " +
            s"variable '$pathVar', got '$v'")
          case NodesFnRe(v) if v == pathVar =>
            if (alias.isDefined)
              Left("nodes(p) projects as the fixed column path_nodes — " +
                "drop the alias")
            else Right(PQNodes)
          case NodesFnRe(v) => Left("nodes() may only take the path " +
            s"variable '$pathVar', got '$v'")
          case RelsFnRe(v) if v == pathVar =>
            if (alias.isDefined)
              Left("relationships(p) projects as the fixed column " +
                "path_rels — drop the alias")
            else Right(PQRels)
          case RelsFnRe(v) => Left("relationships() may only take the " +
            s"path variable '$pathVar', got '$v'")
          case VarPropRe(v, p) if v == aVar || v == bVar =>
            if (alias.isDefined)
              Left(s"endpoint properties project as <var>_<prop> — " +
                "drop the alias")
            else Right(PQProp(v, p))
          case other => Left("a path-quantified RETURN projects " +
            s"endpoint properties ($aVar.<prop>, $bVar.<prop>), " +
            s"length($pathVar), nodes($pathVar), " +
            s"relationships($pathVar), or one reduce(…) sum, got " +
            s"'${other.trim.take(40)}'")
        }
        val parsed = splitTopLevel(retStr).map {
          case AsItemRe(body, a) => one(body, Some(a))
          case p => one(p, None)
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(i) => i }))
      }
      _ <- if (items.isEmpty) Left("empty RETURN list") else Right(())
      _ <- if (items.count(_.isInstanceOf[PQReduce]) > 1)
        Left("at most one reduce() sum per path query")
      else Right(())
      outName = (i: PathQItem) => i match {
        case PQProp(v, p) => s"${v}_$p"
        case PQLen => "path_len"
        case PQNodes => "path_nodes"
        case PQRels => "path_rels"
        case PQReduce(_, a) => a
      }
      _ <- {
        val names = items.map(outName)
        if (names.distinct.size != names.size)
          Left(s"duplicate output columns: ${names.mkString(", ")}")
        else Right(())
      }
      ob <- obStr match {
        case None => Right(None)
        case Some(o) =>
          val key = o.trim match {
            case LengthRe(v) if v == pathVar => Some("path_len")
            case NodesFnRe(v) if v == pathVar => Some("path_nodes")
            case RelsFnRe(v) if v == pathVar => Some("path_rels")
            case VarPropRe(v, p) => Some(s"${v}_$p")
            case bare => Some(bare.trim)
          }
          key.filter(k => items.map(outName).contains(k)) match {
            case Some(k) =>
              Right(Some((k, obDirS.exists(_.equalsIgnoreCase("DESC")))))
            case None => Left(s"ORDER BY key '${o.trim}' is not a " +
              "projected item (project it first)")
          }
      }
    } yield PathQuantReturn(pathVar, aVar, aLabel, propsOf(aPropsStr),
      relVar, relType, lo, hi, bVar, bLabel, propsOf(bPropsStr),
      quantKw.map(_.toUpperCase(java.util.Locale.ROOT)).getOrElse(""),
      allConds, items, ob, limitStr.map(_.toInt), dir = dir)
  }

  /** Shared validation for the relationship write forms
    * ([[SetRelProps]]/[[DeleteRels]]): variable namespace, endpoint
    * property keys, and the optional WHERE — r.prop atoms only, parsed
    * by the quantifier-conds grammar (onRelProp), so the edge-predicate
    * language cannot drift between the read and write surfaces.
    */
  private def parseEdgeWrite(aV: String, aL: String, aP: String,
      rV: String, relT: String, bV: String, bL: String, bP: String,
      whereStr: Option[String], params: Map[String, String])
      : Either[String, (EdgePat, Seq[Seq[Cond]])] = {
    val allowed = Set("name", "content", "docnbr")
    for {
      _ <- if (Seq(aV, rV, bV).distinct.size != 3)
        Left(s"edge-write variables must be distinct, got $aV, $rV, $bV")
      else Right(())
      aProps <- resolveProps(Option(aP).getOrElse(""), params)
      bProps <- resolveProps(Option(bP).getOrElse(""), params)
      _ <- (aProps.keys ++ bProps.keys).find(!allowed(_)).map(k =>
        Left(s"unsupported match property: $k " +
          s"(supported: ${allowed.toSeq.sorted.mkString(", ")})"))
        .getOrElse(Right(()))
      conds <- whereStr.map(_.trim).filter(_.nonEmpty) match {
        case None => Right(Seq.empty[Seq[Cond]])
        case Some(w) => parseQuantConds(rV, w,
          "an edge-write WHERE").left.map(_ +
          " — endpoint filters belong in the pattern's label/property " +
          "maps")
      }
    } yield (EdgePat(aV, Option(aL), aProps, rV, relT, bV, Option(bL),
      bProps), conds)
  }

  /** Parse the relationship-side branch-aware MERGE
    * ([[MergeEdgesOnSet]]): the dual-MATCH sides get
    * [[parseMergeEdges]]'s validations, the ON block gets
    * [[parseMergeOnSet]]'s rules — except that EVERY prop key is
    * writable (EdgeRow.props is schemaless and not part of the edge
    * identity).
    */
  private def parseMergeEdgeOnSet(groups: Seq[String], relVar: String,
      relType: String, clausePropsStr: Option[String], onBlock: String,
      params: Map[String, String]): Either[String, Statement] = {
    val Seq(aV, aL, aB, aP, bV, bL, bB, bP, srcV, dstV) = groups
    val allowed = Set("name", "content", "docnbr")
    // per branch: the raw assignment LIST, re-scanned into
    // (var, prop, value-or-param) triples
    val onClauses = OnSetMultiClauseRe.findAllMatchIn(onBlock).toSeq
      .map(m => (m.group(1).toUpperCase,
        OnSetAssignRe.findAllMatchIn(m.group(2)).toSeq))
    def assignValue(a: scala.util.matching.Regex.Match)
        : Either[String, String] =
      if (a.group(3) != null) Right(a.group(3))
      else params.get(a.group(4))
        .toRight(s"missing parameter $$${a.group(4)} " +
          s"(have: ${params.keys.toSeq.sorted.mkString(", ")})")
    for {
      _ <- if (aV == bV)
        Left(s"edge MERGE needs two distinct match variables, got '$aV' twice")
      else Right(())
      aProps <- resolveProps(Option(aP).getOrElse(""), params)
      bProps <- resolveProps(Option(bP).getOrElse(""), params)
      _ <- (aProps.keys ++ bProps.keys).find(!allowed(_)).map(k =>
        Left(s"unsupported match property: $k " +
          s"(supported: ${allowed.toSeq.sorted.mkString(", ")})"))
        .getOrElse(Right(()))
      clauseProps <- resolveProps(clausePropsStr.getOrElse(""), params)
      _ <- Seq(srcV, dstV).find(v => v != aV && v != bV)
        .map(v => Left(s"MERGE clause references unmatched variable '$v' " +
          s"(matched: $aV, $bV)")).getOrElse(Right(()))
      _ <- if (srcV == dstV)
        Left(s"self-loop MERGE ($srcV)-[:$relType]->($dstV) is not " +
          "supported")
      else Right(())
      _ <- Seq(aV, bV).find(_ == relVar).map(v =>
        Left(s"the relationship variable '$relVar' collides with " +
          s"matched node variable '$v'")).getOrElse(Right(()))
      _ <- onClauses.flatMap { case (kind, as) =>
          as.filter(_.group(1) != relVar).map(a => (kind, a.group(1)))
        }.headOption
        .map { case (kind, v) => Left(s"ON $kind SET may only " +
          s"write the merged relationship '$relVar', got '$v'") }
        .getOrElse(Right(()))
      kinds = onClauses.map(_._1)
      _ <- if (kinds.distinct.size != kinds.size)
        Left("at most one ON CREATE SET and one ON MATCH SET clause")
      else Right(())
      _ <- onClauses.collectFirst {
          case (kind, as)
            if as.map(_.group(2)).distinct.size != as.size =>
          Left(s"duplicate property in ON $kind SET")
        }.getOrElse(Right(()))
      resolved <- onClauses
        .foldLeft[Either[String, Map[String, Map[String, String]]]](
          Right(Map.empty)) { case (acc, (kind, as)) =>
          acc.flatMap { done =>
            as.foldLeft[Either[String, Map[String, String]]](
              Right(Map.empty)) { (m, a) =>
              m.flatMap(mm => assignValue(a).map(vv =>
                mm + (a.group(2) -> vv)))
            }.map(kv => done + (kind -> kv))
          }
        }
    } yield MergeEdgesOnSet(
      MergePat(aV, aL, Option(aB), aProps),
      MergePat(bV, bL, Option(bB), bProps),
      MergeClause(srcV, relType, dstV, clauseProps), relVar,
      resolved.getOrElse("CREATE", Map.empty),
      resolved.getOrElse("MATCH", Map.empty))
  }

  def parse(query: String): Either[String, Statement] = parse(query, Map.empty)

  /** Parse with Cypher parameters (`$name` in write-pattern property
    * maps), resolved token-wise — never by text substitution. Parameters
    * are a write-surface feature (the reference's driver calls are all
    * parameterized, `new_final.js:23-38`); read queries arrive from the
    * LLM as literal Cypher and need none.
    */
  def parse(query: String, params: Map[String, String])
      : Either[String, Statement] =
    try rewriteGqlQuantifier(query).flatMap { q0 =>
      val q1 = rewriteCountSubquery(rewriteCommaPatterns(
        rewriteBareArrows(rewriteIdAccessor(q0))))
      // named rejection with a model pointer (r16 directive 7):
      // elementId()'s contract is an OPAQUE session-scoped STRING
      // handle — this engine's ids are deterministic and meaningful,
      // so serving a stringified id would teach callers to depend on
      // a contract difference. id(v) is the supported spelling.
      if ("""(?i)\belementId\s*\(""".r
          .findFirstIn(blankQuoted(q1)).isDefined)
        return Left("elementId() is not served (Neo4j element ids are " +
          "opaque session-scoped string handles) — use id(v): this " +
          "engine's node ids are deterministic and stable across runs")
      // the top-k WITH … LIMIT stage intercepts BEFORE the chain
      // machinery (its single WITH would otherwise mis-parse as an
      // aggregate stage) but AFTER the accessor desugars (ORDER BY
      // id(v) arrives as v.id) and after the passthrough-WITH strip +
      // match merge (so `WITH r MATCH` plumbing ahead of the stage
      // normalizes away instead of masking it)
      normalizeWithPlumbing(desugarDegreeProjection(q1))
        .flatMap(foldProjectionWith).flatMap(qn =>
        mergeConsecutiveMatches(stripPassthroughWith(qn))).flatMap { q2 =>
        parseTopKWith(q2, params).orElse(
          // aggregate-then-re-expand: the FIRST WITH carries an
          // ordered-limited aggregation and a MATCH follows it
          parseAggTopK(q2, params)).orElse(
          // key-less global aggregate feeding a follow-up MATCH: the
          // 1-row scalar splice
          parseGlobalAggExpand(q2, params)).getOrElse(
          parseChainedWith(q2).getOrElse(parseStmt(q2, params)))
      }
    }
    catch { case ParseError(m) => Left(m) }

  // Cypher's BRACKET-LESS relationship shorthands (r15): `-->`, `<--`,
  // and the undirected `--` between two node patterns are exactly the
  // untyped single-hop brackets (`-[]->` / `<-[]-` / `-[]-`) — a pure
  // spelling desugar, located on the quote-blanked text so an
  // arrow-shaped literal can never masquerade as pattern syntax. Only
  // spans between a closing and an opening paren rewrite, so `-`-ish
  // text anywhere else is untouched. LLMs emit the shorthand for "is
  // connected to" prompts; without this it was a generic shape error.
  private val BareArrowRe = """\)\s*(<--|-->|--)\s*\(""".r

  private def rewriteBareArrows(q: String): String = {
    val blanked = blankQuoted(q)
    val ms = BareArrowRe.findAllMatchIn(blanked).toList
    if (ms.isEmpty) q
    else {
      val sb = new StringBuilder
      var prev = 0
      ms.foreach { m =>
        sb.append(q.substring(prev, m.start))
        sb.append(m.group(1) match {
          case "-->" => ")-[]->("
          case "<--" => ")<-[]-("
          case _ => ")-[]-("
        })
        prev = m.end
      }
      sb.append(q.substring(prev))
      sb.toString
    }
  }

  // ——— chained WITH pipeline (2+ stages) ———————————————————————————————

  // a clause-level WITH: the keyword not preceded by STARTS/ENDS (those
  // are comparison operators); located on the quote-blanked text
  private val ClauseWithRe = """(?i)\b(?:(STARTS|ENDS)\s+)?WITH\b""".r
  private val ClauseReturnRe = """(?i)\bRETURN\b""".r

  // one WITH/RETURN stage's clause tail, split verbatim: items, then the
  // optional WHERE (either subclause position, as in the single-stage
  // grammar), ORDER BY, LIMIT
  private val FlatWithRe =
    ("""(?is)\s*WITH\s+(DISTINCT\s+)?(.+?)\s*""" +
      """(?:\bWHERE\s+(\w+\s*(?:<>|<=|>=|=|<|>)\s*-?\d+(?:\.\d+)?)\s*)?""" +
      """(?:\bORDER\s+BY\s+([\w\s,.]+?)\s*)?""" +
      """(?:\bLIMIT\s+(\d+)\s*)?""" +
      """(?:\bWHERE\s+(\w+\s*(?:<>|<=|>=|=|<|>)\s*-?\d+(?:\.\d+)?)\s*)?$""").r
  private val FlatRetRe =
    ("""(?is)\s*RETURN\s+(DISTINCT\s+)?(.+?)\s*""" +
      """(?:\bORDER\s+BY\s+([\w\s,.]+?)\s*)?""" +
      """(?:\bSKIP\s+(\d+)\s*)?""" +
      """(?:\bLIMIT\s+(\d+))?\s*;?\s*$""").r
  private val FlatAggRe =
    ("""(?is)\s*(count|sum|avg|min|max)\s*\(\s*(DISTINCT\s+)?""" +
      """(\*|\w+)\s*\)\s+AS\s+(\w+)\s*""").r
  private val FlatRetItemRe = """(?is)\s*(\w+)(?:\s+AS\s+(\w+))?\s*""".r
  private val FlatObItemRe = """(?is)\s*(\w+)(?:\s+(ASC|DESC))?\s*""".r

  // an aggregate CALL in a RETURN after WITH (`RETURN n, count(*) AS c`)
  // — the implicit re-aggregation form LLMs emit instead of a second
  // WITH; located on the blanked text
  private val FlatAggCallRe =
    """(?i)\b(?:count|sum|avg|min|max)\s*\(""".r

  /** Detect and parse the multi-stage WITH pipeline; `None` = not a
    * chain (WITH-less and plain single-WITH queries take their existing
    * paths). Chains trigger on ≥2 WITH stages, or on ONE WITH whose
    * closing RETURN itself aggregates (an implicit final stage —
    * `WITH m, count(c) AS n RETURN n, count(*) AS c`).
    */
  private def parseChainedWith(q: String)
      : Option[Either[String, Statement]] = {
    val blanked = blankQuoted(q)
    val withMs = ClauseWithRe.findAllMatchIn(blanked)
      .filter(_.group(1) == null).toList
    if (withMs.isEmpty) None
    else if (withMs.length >= 2) Some(buildChain(q, blanked, withMs))
    else ClauseReturnRe.findFirstMatchIn(blanked) match {
      case Some(ret) if ret.start > withMs.head.start &&
          (FlatAggCallRe.findFirstIn(blanked.substring(ret.end)).isDefined ||
            // `WITH DISTINCT …` (r15): the dedup stage is a chain stage
            // even when the closing RETURN doesn't aggregate — the
            // single-stage WITH grammar is aggregate-only
            """(?is)^\s*DISTINCT\b""".r
              .findFirstIn(blanked.substring(withMs.head.end)).isDefined) =>
        Some(buildChain(q, blanked, withMs))
      case _ => None
    }
  }

  private def buildChain(q: String, blanked: String,
      withMs: List[scala.util.matching.Regex.Match])
      : Either[String, Statement] = for {
    ret <- ClauseReturnRe.findFirstMatchIn(blanked)
      .toRight("a chained WITH pipeline needs a closing RETURN")
    _ <- if (ret.start < withMs.last.start)
      Left("RETURN must follow the last WITH stage of a chained pipeline")
    else Right(())
    // stage 1: the original MATCH + first WITH clause, re-expressed as a
    // single-stage WITH query with a synthesized RETURN of its outputs
    stage1End = withMs.lift(1).map(_.start).getOrElse(ret.start)
    s1 <- synthStage1(q.substring(0, withMs.head.start),
      q.substring(withMs.head.start, stage1End))
    (stage1Query, avail0, renames) = s1
    _ <- parseStmt(stage1Query) match {
      case Left(e) => Left(s"in WITH stage 1: $e")
      case Right(_: MatchReturn) => Right(())
      case Right(_) => Left("the first WITH stage must follow a single " +
        "MATCH pattern")
    }
    // later stages: flat aggregations over the previous stage's columns
    segs = withMs.tail.zip(withMs.drop(2).map(_.start) :+ ret.start)
      .map { case (m, end) => q.substring(m.start, end) }
    folded <- segs.zipWithIndex
      .foldLeft[Either[String, (Seq[FlatStage], Seq[(String, Boolean)])]](
        Right((Seq.empty, avail0))) {
        case (acc, (seg, i)) => acc.flatMap { case (stages, avail) =>
          parseFlatStage(seg, i + 2, avail).map { case (st, avail2) =>
            (stages :+ st, avail2)
          }
        }
      }
    (stages, availN) = folded
    retParsed <- parseFlatReturn(q.substring(ret.start), availN)
    (items, distinct, ob, skip, limit, implicitStage) = retParsed
  } yield ChainedWith(stage1Query, renames,
    stages ++ implicitStage.toSeq, items, distinct, ob, skip, limit)

  /** Classify the first WITH clause's items and synthesize the
    * single-stage query: grouping props (+ `name` as the identity
    * carrier) and every alias become the stage's RETURN. Answers
    * (query text, available columns with numeric-lineage flags,
    * canonical→bare renames).
    */
  private def synthStage1(matchPart: String, withPart: String): Either[
      String, (String, Seq[(String, Boolean)], Seq[(String, String)])] =
    withPart match {
      // `WITH DISTINCT <v.prop [AS alias]>[, …]` (r15 directive 3): the
      // aggregate-free special case — an aggregating stage already
      // collapses each group, so DISTINCT is only meaningful on a pure
      // projection, where it is exactly a dedup on the stage columns.
      // Synthesized as `MATCH … RETURN DISTINCT v.prop AS alias[, …]`
      // (the engine's existing set-projection path — hop-aware, conn-
      // side correct), so no rename plumbing is needed: the aliases are
      // applied inside the stage and the later stages see them as flat
      // columns. ORDER BY/LIMIT pass through verbatim (the inner
      // grammar resolves bare aliases); a numeric WHERE has no
      // aggregate to filter here and rejects by name.
      case FlatWithRe(distinctKw, itemsText, hav, obText, limitStr,
          havPost) if distinctKw != null =>
        val parts = splitTopLevel(itemsText).map(_.trim)
        val AsProp = """(?is)\s*(\w+)\s*\.\s*(\w+)\s+AS\s+(\w+)\s*""".r
        val projE = parts.foldLeft[Either[String, Seq[(String, String,
            String)]]](Right(Seq.empty)) { (acc, part) =>
          acc.flatMap { done =>
            part match {
              case AsProp(v, p, a) => Right(done :+ (v, p, a))
              case VarPropRe(v, p) => Right(done :+ (v, p, p))
              case VarRe(v) => Left(s"WITH DISTINCT $v binds the whole " +
                "variable — project properties to deduplicate on " +
                s"($v.<prop>)")
              case other => Left("unsupported WITH DISTINCT item " +
                s"(expected v.prop [AS alias]): '${other.trim.take(40)}'")
            }
          }
        }
        projE.flatMap { proj =>
          val vars = proj.map(_._1).distinct
          val outs = proj.map(_._3)
          if (hav != null || havPost != null)
            Left("WHERE on a WITH DISTINCT stage has no aggregate to " +
              "filter — filter in the MATCH's WHERE or a later stage")
          else if (proj.isEmpty)
            Left("WITH DISTINCT needs at least one projected property")
          else if (vars.sizeIs > 1)
            Left(s"two grouping variables ('${vars.head}', " +
              s"'${vars(1)}') in one WITH stage")
          else if (outs.distinct.size != outs.size)
            Left("duplicate output name in the WITH DISTINCT stage: " +
              outs.diff(outs.distinct).distinct.mkString(", "))
          else {
            val items = proj.map { case (v, p, a) => s"$v.$p AS $a" }
              .mkString(", ")
            val tail = Option(obText).fold("")(o => s" ORDER BY $o") +
              Option(limitStr).fold("")(l => s" LIMIT $l")
            Right((s"$matchPart RETURN DISTINCT $items$tail",
              outs.map((_, false)), Seq.empty))
          }
        }
      case FlatWithRe(_, itemsText, hav, obText, limitStr, havPost) =>
        val parts = splitTopLevel(itemsText).map(_.trim)
        var mVar: Option[String] = None
        var identity = false
        val props = Seq.newBuilder[String]
        val aggs = Seq.newBuilder[(String, Boolean)] // alias → numeric
        var err: Option[String] = None
        parts.foreach {
          case _ if err.isDefined => ()
          case WithCountRe(_, _, alias) => aggs += ((alias, true))
          case WithCountPropRe(_, _, _, alias) => aggs += ((alias, true))
          case WithAggPropRe(fn, _, _, alias) =>
            // min/max keep the property's string collation; sum/avg
            // produce numbers — the flag gates later numeric use
            aggs += ((alias,
              Set("sum", "avg")(fn.toLowerCase(java.util.Locale.ROOT))))
          case VarRe(v) =>
            identity = true
            if (mVar.forall(_ == v)) mVar = Some(v)
            else err = Some(s"two grouping variables ('${mVar.get}', " +
              s"'$v') in one WITH stage")
          case VarPropRe(v, p) =>
            props += p
            if (mVar.forall(_ == v)) mVar = Some(v)
            else err = Some(s"two grouping variables ('${mVar.get}', " +
              s"'$v') in one WITH stage")
          case other =>
            err = Some("unsupported WITH item in a chained pipeline: " +
              s"'${other.trim.take(40)}'")
        }
        val aliasSeq = aggs.result()
        val propSeq = props.result()
        err.map(Left(_)).getOrElse {
          if (mVar.isEmpty)
            Left("the first WITH stage needs a grouping item (the " +
              "matched variable or one of its properties)")
          else if (aliasSeq.isEmpty)
            Left("the first WITH stage needs at least one aliased " +
              "aggregate")
          else {
            val v = mVar.get
            // identity grouping carries `name` so the synthesized RETURN
            // has a grouping property; per-node multiplicity is preserved
            // by the identity groupBy regardless of name collisions
            val carried =
              if (identity) (propSeq :+ "name").distinct else propSeq
            val shadow = aliasSeq.map(_._1).toSet.intersect(carried.toSet)
            if (shadow.nonEmpty)
              Left(s"WITH alias '${shadow.head}' shadows a carried " +
                "grouping property")
            else {
              val projection =
                (carried.map(p => s"$v.$p") ++ aliasSeq.map(_._1))
                  .mkString(", ")
              val clause = new StringBuilder("WITH ").append(itemsText)
              Option(hav).foreach(h => clause.append(" WHERE ").append(h))
              Option(obText).foreach(o =>
                clause.append(" ORDER BY ").append(o))
              Option(limitStr).foreach(l =>
                clause.append(" LIMIT ").append(l))
              Option(havPost).foreach(h =>
                clause.append(" WHERE ").append(h))
              val avail = carried.map((_, false)) ++ aliasSeq
              Right((s"$matchPart$clause RETURN $projection",
                avail, carried.map(p => (s"m_$p", p))))
            }
          }
        }
      case _ => Left("unparseable first WITH stage: " +
        s"'${withPart.trim.take(60)}'")
    }

  /** Parse one chained (2nd+) stage: bare-name keys and/or aggregates
    * over the previous stage's columns. Answers (stage, the NEW
    * available columns).
    */
  private def parseFlatStage(seg: String, stageNo: Int,
      avail: Seq[(String, Boolean)])
      : Either[String, (FlatStage, Seq[(String, Boolean)])] = {
    val numeric = avail.toMap
    def inScope(c: String): Boolean = numeric.contains(c)
    def scopeErr(c: String): String =
      s"'$c' is not in scope in WITH stage $stageNo — the previous " +
        s"stage carries: ${avail.map(_._1).mkString(", ")}"
    seg match {
      case FlatWithRe(distinctKw, itemsText, hav, obText, limitStr,
          havPost) =>
        val parts = splitTopLevel(itemsText).map(_.trim)
        val keys = Seq.newBuilder[String]
        val aggs = Seq.newBuilder[FlatAgg]
        var sawAgg = false
        var err: Option[String] = None
        parts.foreach {
          case _ if err.isDefined => ()
          case FlatAggRe(fn0, dk, arg, alias) =>
            sawAgg = true
            val fn = fn0.toLowerCase(java.util.Locale.ROOT)
            if (arg == "*") {
              if (fn != "count")
                err = Some(s"$fn(*) is not an aggregate — only count(*)")
              else if (dk != null)
                err = Some("count(DISTINCT *) is not supported")
              else aggs += FlatAgg("count", None, distinct = false, alias)
            } else if (!inScope(arg)) err = Some(scopeErr(arg))
            else if (Set("sum", "avg")(fn) && !numeric(arg))
              err = Some(s"$fn('$arg') needs a numeric column — '$arg' " +
                s"carries string collation in WITH stage $stageNo")
            else aggs += FlatAgg(fn, Some(arg), dk != null, alias)
          case VarRe(c) =>
            if (sawAgg)
              err = Some("WITH grouping items must precede the " +
                s"aggregates, got '$c' after one (stage $stageNo)")
            else if (!inScope(c)) err = Some(scopeErr(c))
            else keys += c
          case other =>
            err = Some(s"unsupported item in WITH stage $stageNo: " +
              s"'${other.trim.take(40)}' (use a carried column or " +
              "agg(col) AS alias)")
        }
        val keySeq = keys.result()
        val aggSeq = aggs.result()
        val outCols = keySeq.map(k => (k, numeric(k))) ++
          aggSeq.map(a => (a.alias, a.fn match {
            case "count" | "sum" | "avg" => true
            case _ => a.arg.forall(numeric)
          }))
        val outMap = outCols.toMap
        def havParsed(h: String): Either[String, (String, String, Double)] =
          h match {
            case PostHavRe(t, op, n) =>
              if (!outMap.contains(t))
                Left(s"the WHERE of WITH stage $stageNo may only filter " +
                  s"this stage's columns (${outCols.map(_._1)
                    .mkString(", ")}), got '$t'")
              else if (!outMap(t))
                Left(s"the WHERE of WITH stage $stageNo compares " +
                  s"numerically — '$t' carries string collation")
              else Right((t, op, n.toDouble))
            case _ => Left(s"unparseable WHERE in WITH stage $stageNo")
          }
        for {
          _ <- err.map(Left(_)).getOrElse(Right(()))
          _ <- if (outCols.map(_._1).distinct.sizeIs != outCols.size)
            Left(s"duplicate output column in WITH stage $stageNo")
          else Right(())
          _ <- if (keySeq.isEmpty && aggSeq.isEmpty)
            Left(s"WITH stage $stageNo carries no items")
          else Right(())
          // DISTINCT on an aggregating stage is vacuous-at-best and
          // misleading-at-worst (grouping already collapses) — reject
          _ <- if (distinctKw != null && aggSeq.nonEmpty)
            Left(s"WITH DISTINCT cannot combine with aggregates " +
              s"(stage $stageNo) — the aggregation already collapses " +
              "each group")
          else Right(())
          _ <- if (hav != null && havPost != null)
            Left(s"one WHERE per WITH stage — before ORDER BY or after " +
              s"LIMIT, not both (stage $stageNo)")
          else Right(())
          having <- Option(if (hav != null) hav else havPost)
            .map(h => havParsed(h).map(Some(_))).getOrElse(Right(None))
          ob <- parseFlatOrderBy(obText, outMap.keySet,
            s"WITH stage $stageNo")
        } yield (FlatStage(keySeq, aggSeq, having,
          havingAfterLimit = havPost != null && limitStr != null,
          ob, Option(limitStr).map(_.toInt),
          distinct = distinctKw != null), outCols)
      case _ => Left(s"unparseable WITH stage $stageNo: " +
        s"'${seg.trim.take(60)}'")
    }
  }

  private def parseFlatOrderBy(obText: String, scope: Set[String],
      where: String): Either[String, Seq[(String, Boolean)]] =
    Option(obText) match {
      case None => Right(Seq.empty)
      case Some(t) =>
        val parsed = t.split(",").toSeq.map {
          case FlatObItemRe(k, dir) =>
            if (scope.contains(k))
              Right((k, dir != null && dir.equalsIgnoreCase("DESC")))
            else Left(s"ORDER BY key '$k' is not in scope in $where " +
              s"(carried: ${scope.toSeq.sorted.mkString(", ")})")
          case other =>
            Left(s"unsupported ORDER BY item in $where: " +
              s"'${other.trim.take(40)}'")
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(k) => k }))
    }

  /** The chain's closing RETURN: flat columns with optional AS renames +
    * the usual DISTINCT / ORDER BY / SKIP / LIMIT tail.
    */
  // an aggregate RETURN item missing its AS — matched to give a NAMED
  // error (the alias is the aggregate's only output-column name)
  private val FlatAggNoAsRe =
    """(?is)\s*(count|sum|avg|min|max)\s*\(\s*(?:DISTINCT\s+)?(?:\*|\w+)\s*\)\s*""".r

  /** The chain's closing RETURN. Bare carried columns project 1:1; any
    * AGGREGATE item (`count(*) AS c`, `sum(n) AS total`, …) turns the
    * RETURN into an IMPLICIT final aggregation stage — Cypher's grouping
    * rule: the non-aggregate items are the grouping keys. Answers the
    * items (in query order), DISTINCT flag, canonical ORDER BY keys,
    * SKIP/LIMIT, and the implicit stage if one arose.
    */
  private def parseFlatReturn(retText: String,
      avail: Seq[(String, Boolean)]): Either[String,
      (Seq[(String, Option[String])], Boolean, Seq[(String, Boolean)],
        Option[Int], Option[Int], Option[FlatStage])] = {
    val numeric = avail.toMap
    def scopeErr(c: String): String =
      s"RETURN item '$c' is not in scope after the last WITH stage " +
        s"(carried: ${avail.map(_._1).mkString(", ")})"
    retText match {
      case FlatRetRe(distinctKw, itemsText, obText, skipStr, limitStr) =>
        val keys = Seq.newBuilder[String]
        val aggs = Seq.newBuilder[FlatAgg]
        val order = Seq.newBuilder[(String, Option[String])]
        var err: Option[String] = None
        splitTopLevel(itemsText).map(_.trim).foreach {
          case _ if err.isDefined => ()
          case FlatAggRe(fn0, dk, arg, alias) =>
            val fn = fn0.toLowerCase(java.util.Locale.ROOT)
            if (arg == "*") {
              if (fn != "count")
                err = Some(s"$fn(*) is not an aggregate — only count(*)")
              else if (dk != null)
                err = Some("count(DISTINCT *) is not supported")
              else {
                aggs += FlatAgg("count", None, distinct = false, alias)
                order += ((alias, None))
              }
            } else if (!numeric.contains(arg)) err = Some(scopeErr(arg))
            else if (Set("sum", "avg")(fn) && !numeric(arg))
              err = Some(s"$fn('$arg') needs a numeric column — '$arg' " +
                "carries string collation")
            else {
              aggs += FlatAgg(fn, Some(arg), dk != null, alias)
              order += ((alias, None))
            }
          case FlatAggNoAsRe(fn) =>
            err = Some(s"alias the RETURN aggregate ($fn(…) AS <name>) " +
              "— the alias is its output column")
          case FlatRetItemRe(c, alias) =>
            if (!numeric.contains(c)) err = Some(scopeErr(c))
            else { keys += c; order += ((c, Option(alias))) }
          case other => err = Some("unsupported RETURN item after a " +
            s"chained WITH: '${other.trim.take(40)}' (use a carried " +
            "column or agg(col) AS alias)")
        }
        val keySeq = keys.result()
        val aggSeq = aggs.result()
        val items = order.result()
        // an aggregate item ⇒ implicit closing stage grouped on the
        // bare items (no HAVING/ORDER/LIMIT of its own — the RETURN
        // tail below orders and pages the aggregated rows)
        val implicitStage =
          if (aggSeq.isEmpty) None
          else Some(FlatStage(keySeq, aggSeq, None,
            havingAfterLimit = false, Seq.empty, None))
        val postScope =
          if (aggSeq.isEmpty) avail.map(_._1).toSet
          else keySeq.toSet ++ aggSeq.map(_.alias)
        for {
          _ <- err.map(Left(_)).getOrElse(Right(()))
          outNames = items.map { case (c, a) => a.getOrElse(c) }
          _ <- if (outNames.distinct.sizeIs != outNames.size)
            Left("duplicate RETURN output column after a chained WITH")
          else Right(())
          _ <- if (items.map(_._1).distinct.sizeIs != items.size)
            Left("duplicate RETURN item after a chained WITH")
          else Right(())
          // ORDER BY may key a canonical column or a RETURN alias
          aliasBack = items.collect { case (c, Some(a)) => a -> c }.toMap
          ob <- parseFlatOrderBy(obText,
            postScope ++ aliasBack.keySet, "the final RETURN")
          obCanon = ob.map { case (k, d) => (aliasBack.getOrElse(k, k), d) }
          _ <- if (skipStr != null && obCanon.isEmpty)
            Left("SKIP requires ORDER BY")
          else Right(())
        } yield (items, distinctKw != null, obCanon,
          Option(skipStr).map(_.toInt), Option(limitStr).map(_.toInt),
          implicitStage)
      case _ => Left("unparseable RETURN after a chained WITH: " +
        s"'${retText.trim.take(60)}'")
    }
  }

  /** Comma-separated patterns inside one MATCH clause (`MATCH
    * (a)-[…]->(b), (b)-[…]->(c)`) are Cypher's n-ary pattern list — each
    * comma is exactly a clause boundary (`MATCH p1, p2` ≡ `MATCH p1 MATCH
    * p2`), so the comma rewrites to ` MATCH ` and the multi-MATCH splice
    * takes it from there. The LINEAR form (each pattern re-anchoring the
    * previous tail) lands in the chain plan; a BRANCHING form (patterns
    * sharing a root, `(a)-[]->(b), (a)-[]->(c)`) does not splice and is
    * rejected as unsupported rather than mis-joined. Only a depth-0 comma
    * whose neighbors are `)` and `(` rewrites — commas in property maps /
    * IN lists sit inside braces/brackets, and no RETURN/ORDER BY item
    * ever ends with `)` AND is followed by a bare `(`.
    */
  private def rewriteCommaPatterns(q: String): String = {
    val blanked = blankQuoted(q)
    val cuts = Seq.newBuilder[Int]
    var depth = 0
    var i = 0
    while (i < blanked.length) {
      blanked.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          val prev = blanked.lastIndexWhere(!_.isWhitespace, i - 1)
          val next = blanked.indexWhere(!_.isWhitespace, i + 1)
          if (prev >= 0 && blanked.charAt(prev) == ')' &&
              next >= 0 && blanked.charAt(next) == '(')
            cuts += i
        case _ => ()
      }
      i += 1
    }
    val cs = cuts.result()
    if (cs.isEmpty) q
    else {
      val sb = new StringBuilder
      var pos = 0
      cs.foreach { c =>
        sb.append(q.substring(pos, c)).append(" MATCH ")
        pos = c + 1
      }
      sb.append(q.substring(pos)).toString
    }
  }

  // `-[:R]->{1,K}` — the GQL quantified-path spelling (Neo4j 5.9+),
  // normalized to the engine's `-[:R*1..K]->` range form. Only the
  // 1-anchored form maps: `{2,3}` (min hops > 1) would need an exact-
  // depth lower bound the min-depth expansion kernel cannot express, and
  // `{0,K}`/`{,K}` (GQL's 0 lower bound) would include the root itself —
  // both rejected by name rather than silently narrowed.
  private val GqlQuantRe =
    """(-\s*\[\s*([^\]*]*?)\s*\]\s*-\s*>)\s*\{\s*(\d*)\s*,\s*(\d+)\s*\}""".r

  private def rewriteGqlQuantifier(q: String): Either[String, String] = {
    val blanked = blankQuoted(q)
    val ms = GqlQuantRe.findAllMatchIn(blanked).toList
    val badMin = ms.find(m => m.group(3) != "1")
    if (badMin.isDefined)
      Left(s"quantified path {${badMin.get.group(3)},…}: only a lower " +
        "bound of 1 is supported ({0,K} would include the root, a deeper " +
        "lower bound cannot ride the min-depth expansion)")
    else if (ms.isEmpty) Right(q)
    else {
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { m =>
        sb.append(q.substring(pos, m.start))
        val inner = q.substring(m.start(2), m.end(2)).trim
        sb.append(s"-[$inner*1..${m.group(4)}]->")
        pos = m.end
      }
      Right(sb.append(q.substring(pos)).toString)
    }
  }

  // `COUNT { (m)-[…]->(x[:Label]) }` — the Neo4j-5 COUNT subquery, the
  // modern spelling of the degree expression (size(pattern) is deprecated
  // there, so LLMs increasingly emit this form). Normalized to the
  // engine's size() path: the inner pattern's target variable (if any) is
  // dropped — COUNT{} counts pattern ROWS, exactly what the size()
  // desugaring's identity-grouped binding count answers. Matched on the
  // quote-blanked text; a WHERE inside the subquery does not match and
  // falls through to a parse error rather than a silently-wrong count.
  private val CountSubRe =
    ("""(?i)\bCOUNT\s*\{\s*(?:MATCH\s+)?\(\s*(\w+)\s*\)\s*""" +
      """(-\s*\[[^\]]*\]\s*-\s*>)\s*\(\s*\w*\s*(?::\s*(\w+))?\s*\)\s*\}""").r

  private def rewriteCountSubquery(q: String): String = {
    val blanked = blankQuoted(q)
    val ms = CountSubRe.findAllMatchIn(blanked).toList
    if (ms.isEmpty) q
    else {
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { m =>
        sb.append(q.substring(pos, m.start))
        val rel = q.substring(m.start(2), m.end(2))
        val lab = Option(m.group(3)).fold("")(l => ":" + l)
        sb.append(s"size((${m.group(1)})$rel($lab))")
        pos = m.end
      }
      sb.append(q.substring(pos)).toString
    }
  }

  // `WITH a[, b …] MATCH` — a bare-variable pass-through WITH feeding a
  // follow-up MATCH (the LLM staple `MATCH (a:L) WITH a MATCH (a)-[…]->`)
  // carries no aggregate, alias, DISTINCT, or WHERE, so it is pure
  // variable plumbing: dropped before the multi-MATCH splice. (Cypher's
  // scope NARROWING — variables omitted from the WITH going out of
  // scope — is not enforced; referencing a dropped variable later is
  // accepted here where Neo4j errors.) Matched on the quote-blanked text
  // so a literal containing ` WITH x MATCH` can never trigger it; the
  // aggregate `WITH … count(…) AS x` form never matches (it is followed
  // by WHERE/RETURN, not MATCH, and contains non-identifier tokens).
  private val PassthroughWithRe =
    """(?i)\bWITH\s+\w+(?:\s*,\s*\w+)*\s+(?=MATCH\b)""".r

  // `WITH <v> [ORDER BY <v>.<prop> [ASC|DESC]] LIMIT k` before a MATCH
  // or RETURN — the top-k stage (see [[TopKExpand]]). Located AFTER the
  // accessor desugars, so `ORDER BY id(v)` arrives as `v.id`.
  private val TopKWithRe =
    ("""(?is)\bWITH\s+(\w+)\s*""" +
      """(?:ORDER\s+BY\s+(?:(toLower|toUpper|trim|size|toInteger|""" +
      """toFloat)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)|(\w+)\s*\.\s*(\w+)|""" +
      // the DEGREE key `size((v)-[:T]->([:L]))` — "the k most
      // connected X" (single-hop outgoing, the size-sugar shape)
      """size\s*\(\s*\(\s*(\w+)\s*\)\s*-\s*\[\s*(?::\s*(\w+))?\s*\]""" +
      """\s*-\s*>\s*\(\s*(?::\s*(\w+))?\s*\)\s*\))""" +
      """(?:\s+(ASC|DESC))?""" +
      // an optional SECONDARY tiebreak key `, v.prop [dir]` (r17 —
      // "most connected, ties by name"); always routed two-phase
      """(?:\s*,\s*(\w+)\s*\.\s*(\w+)(?:\s+(ASC|DESC))?)?\s*)?""" +
      """(?:SKIP\s+(\d+)\s+)?""" +
      """LIMIT\s+(\d+)\s+""" +
      """(?=MATCH\b|RETURN\b|OPTIONAL\b|SET\b|DETACH\b|REMOVE\b)""").r

  // the single-node first MATCH the two-phase path requires: rows are
  // one-per-node, so the id set expresses the row limit exactly
  private val SingleNodeMatchRe =
    ("""(?is)^\s*MATCH\s*\(\s*(\w+)\s*(?::\s*\w+)?""" +
      """\s*(?:\{[^{}]*\})?\s*\)\s*(?:WHERE\b.*?)?\s*$""").r

  // clause keywords that can follow the tail's first MATCH pattern —
  // the splice point for the top-k id conjunct. The first alternative
  // swallows the comparison operators `STARTS WITH`/`ENDS WITH` so the
  // WITH inside them can never be mistaken for a clause boundary
  // (callers keep only matches with group(1) == null, the
  // ClauseWithRe convention).
  private val TailClauseKwRe =
    ("""(?is)\b(?:(STARTS|ENDS)\s+WITH|""" +
      """(WHERE|RETURN|WITH|MATCH|UNWIND|OPTIONAL\s+MATCH))\b""").r

  /** Ceiling for the two-phase LIMIT: the id set is a driver-side
    * collect spliced as an IN-literal (plan-embedded broadcast), so it
    * must stay bounded. The idiom this path serves is small-k by nature.
    */
  private[graph] val TopKMaxK = 10000

  /** Detect and parse the `WITH v [ORDER BY …] LIMIT k` stage. `None`
    * routes elsewhere: no such stage, or the stage sits mid-chain
    * (an earlier WITH exists — FlatStage LIMIT handles those). A clean
    * RETURN tail folds textually (single phase, order-preserving);
    * everything else becomes a [[TopKExpand]]. Both the synthesized
    * stage-1 and a probe-rebuilt tail are parse-validated HERE so the
    * caller sees parse errors at parse time, not first execution.
    */
  private def parseTopKWith(q: String, params: Map[String, String])
      : Option[Either[String, Statement]] = {
    val blanked = blankQuoted(q)
    TopKWithRe.findFirstMatchIn(blanked).flatMap { mm =>
      // an earlier WITH means this LIMIT belongs to a chained stage
      if (ClauseWithRe.findAllMatchIn(blanked.substring(0, mm.start))
          .exists(_.group(1) == null)) None
      else Some(buildTopK(q, mm, params))
    }
  }

  // one WITH item of the aggregate-then-re-expand stage: a key with a
  // MANDATORY alias (the tail references the key BY the alias), or an
  // aliased aggregate kept verbatim for the stage-1 synthesis
  private val AggTopKKeyRe =
    """(?is)\s*(\w+)\s*\.\s*(\w+)\s+AS\s+(\w+)\s*""".r
  private val AggTopKKeyBareRe = """(?is)\s*(\w+)\s*\.\s*(\w+)\s*""".r
  private val AggTopKAggRe =
    ("""(?is)\s*(?:count|sum|avg|min|max|collect)\s*\(\s*""" +
      """(?:DISTINCT\s+)?(?:\*|\w+(?:\s*\.\s*\w+)?)\s*\)\s+AS\s+""" +
      """(\w+)\s*""").r

  /** Detect and parse the aggregate-then-re-expand pipeline (see
    * [[AggTopKExpand]]): the FIRST WITH carries items + ORDER BY +
    * LIMIT and is followed by a MATCH before any RETURN. `None` routes
    * to the other machineries (plain chains, top-k bare-variable
    * stages, single-stage WITH).
    */
  private def parseAggTopK(q: String, params: Map[String, String])
      : Option[Either[String, Statement]] = {
    val blanked = blankQuoted(q)
    for {
      w <- ClauseWithRe.findAllMatchIn(blanked)
        .filter(_.group(1) == null).toList.headOption
      t <- MatchTokRe.findFirstMatchIn(blanked.substring(w.end))
        .map(m => w.end + m.start)
      // the re-entry MATCH must precede any RETURN
      _ <- ClauseReturnRe.findFirstMatchIn(blanked)
        .filter(_.start < t).fold(Option(())) (_ => None)
      clause = q.substring(w.end, t)
      clauseB = blanked.substring(w.end, t)
      ob <- """(?is)\bORDER\s+BY\b""".r.findFirstMatchIn(clauseB)
      lim <- """(?is)\bLIMIT\s+(\d+)\s*$""".r.findFirstMatchIn(clauseB)
      _ <- if (lim.start > ob.end) Some(()) else None
    } yield buildAggTopK(q, w.start, clause, clauseB, ob, lim, t, params)
  }

  private def buildAggTopK(q: String, wStart: Int, clause: String,
      clauseB: String, ob: scala.util.matching.Regex.Match,
      lim: scala.util.matching.Regex.Match, tailStart: Int,
      params: Map[String, String]): Either[String, Statement] = {
    val mp = q.substring(0, wStart).trim
    val tail = q.substring(tailStart)
    val whereM = """(?is)\bWHERE\b""".r.findFirstMatchIn(clauseB)
      .filter(_.start < ob.start)
    val itemsEnd = whereM.map(_.start).getOrElse(ob.start)
    val itemsText = clause.substring(0, itemsEnd).trim
    val hav = whereM.map(wm => clause.substring(wm.end, ob.start).trim)
    val obText = clause.substring(ob.end, lim.start).trim
    val k = lim.group(1).toInt
    // classify items: exactly one aliased key + ≥1 aliased aggregate
    val parts = splitTopLevel(itemsText).map(_.trim)
    var key: Option[(String, String, String)] = None
    val aggs = Seq.newBuilder[String]
    var err: Option[String] = None
    parts.foreach {
      case _ if err.isDefined => ()
      case p @ AggTopKAggRe(_) => aggs += p.trim
      case AggTopKKeyRe(v0, p0, a0) =>
        if (key.isEmpty) key = Some((v0, p0, a0))
        else err = Some("the aggregate-then-expand stage groups by " +
          s"ONE aliased key, got a second ('$v0.$p0')")
      case AggTopKKeyBareRe(v0, p0) =>
        err = Some(s"alias the grouping key (`$v0.$p0 AS <name>`) — " +
          "the follow-up MATCH references the key by its alias")
      case other =>
        err = Some("unsupported item in an aggregate-then-expand " +
          s"WITH stage: '${other.take(40)}'")
    }
    val aggTexts = aggs.result()
    err.map(Left(_)).getOrElse {
      (key, aggTexts) match {
        case (None, _) =>
          Left("the aggregate-then-expand stage needs one aliased " +
            "grouping key (`v.prop AS name`)")
        case (_, Seq()) =>
          Left("the aggregate-then-expand stage needs at least one " +
            "aliased aggregate — a bare projected key before a " +
            "follow-up MATCH carries binding multiplicity an id set " +
            "cannot express")
        case (Some((v, p, alias)), aggList) =>
          if (k > TopKMaxK)
            Left(s"LIMIT $k exceeds the top-k expansion bound " +
              s"($TopKMaxK): the selected keys splice into the tail " +
              "as a bounded broadcast list")
          else {
            // the stage's ORDER BY with the key alias resolved to the
            // key property and the key as the final tiebreak
            val obResolved = obText.replaceAll(
              s"(?i)(?<![\\w.])$alias\\b", s"$v.$p")
            val obFull =
              if (s"(?i)\\b$v\\s*\\.\\s*$p\\b".r
                  .findFirstIn(obResolved).isDefined) obResolved
              else s"$obResolved, $v.$p"
            val stage1 = s"$mp WITH $v.$p, ${aggList.mkString(", ")}" +
              hav.fold("")(h => s" WHERE $h") +
              s" ORDER BY $obFull LIMIT $k RETURN $v.$p, " +
              aggList.map(_.replaceAll("""(?is)^.*\bAS\s+""", ""))
                .mkString(", ")
            val ae = AggTopKExpand(stage1, s"m_$p", alias, tail.trim)
            for {
              _ <- parse(stage1, params).left
                .map(e => s"in the aggregate-then-expand stage 1: $e")
              _ <- rewriteUnwind("'__probe__'", alias, ae.tail)
                .flatMap(parse(_, params)).left
                .map(e => s"in the re-expansion tail: $e")
            } yield ae
          }
      }
    }
  }

  /** Detect and parse the key-less global-aggregate re-entry (see
    * [[GlobalAggExpand]]): the FIRST WITH carries ONLY aliased
    * aggregates and a MATCH follows before any RETURN. `None` routes
    * elsewhere (keyed stages → [[parseAggTopK]], plain chains, …).
    */
  private def parseGlobalAggExpand(q: String,
      params: Map[String, String]): Option[Either[String, Statement]] = {
    val blanked = blankQuoted(q)
    for {
      w <- ClauseWithRe.findAllMatchIn(blanked)
        .filter(_.group(1) == null).toList.headOption
        .filter(m => !ClauseWithRe.findAllMatchIn(
          blanked.substring(0, m.start)).exists(_.group(1) == null))
      t <- MatchTokRe.findFirstMatchIn(blanked.substring(w.end))
        .map(m => w.end + m.start)
      _ <- ClauseReturnRe.findFirstMatchIn(blanked)
        .filter(_.start < t).fold(Option(()))(_ => None)
      clause = q.substring(w.end, t)
      items = splitTopLevel(clause).map(_.trim).filter(_.nonEmpty)
      _ <- if (items.nonEmpty && items.forall {
          case AggTopKAggRe(_) => true
          case _ => false
        }) Some(()) else None
    } yield buildGlobalAggExpand(q, w.start, items, t, params)
  }

  private def buildGlobalAggExpand(q: String, wStart: Int,
      items: Seq[String], tailStart: Int,
      params: Map[String, String]): Either[String, Statement] = {
    val mp = q.substring(0, wStart).trim
    val tail = q.substring(tailStart)
    val aliases = items.map(_.replaceAll("""(?is)^.*\bAS\s+""", "").trim)
    val stage1 = s"$mp RETURN ${items.mkString(", ")}"
    val tb = blankQuoted(tail)
    for {
      _ <- if (aliases.distinct.size != aliases.size)
        Left("duplicate aggregate alias in the global stage: " +
          aliases.diff(aliases.distinct).distinct.mkString(", "))
      else Right(())
      ret <- ClauseReturnRe.findFirstMatchIn(tb).toRight(
        "the global-aggregate re-entry needs a closing RETURN")
      itemsEnd = """(?is)\b(ORDER|SKIP|LIMIT)\b""".r
        .findFirstMatchIn(tb.substring(ret.end))
        .map(ret.end + _.start).getOrElse(tb.length)
      distinctLen = """(?is)^\s*DISTINCT\b""".r
        .findFirstIn(tb.substring(ret.end, itemsEnd))
        .map(_.length).getOrElse(0)
      itemsStart = ret.end + distinctLen
      retItems = splitTopLevel(tail.substring(itemsStart, itemsEnd))
        .map(_.trim)
      classified = retItems.map { it =>
        val bare = aliases.find(_.equalsIgnoreCase(it))
        val renamed = aliases.flatMap { a =>
          val m = ("""(?is)^""" + java.util.regex.Pattern.quote(a) +
            """\s+AS\s+(\w+)\s*;?\s*$""").r.findFirstMatchIn(it)
          m.map(mm => (a, mm.group(1)))
        }.headOption
        bare.map(a => Left((a, a))).orElse(
          renamed.map(Left(_))).getOrElse(Right(it))
      }
      kept = classified.collect { case Right(it) => it }
      _ <- if (kept.isEmpty)
        Left("the follow-up MATCH must compute something of its own — " +
          "a RETURN of only the stage scalars re-emits one constant " +
          "per matched row; RETURN them from the stage directly")
      else Right(())
      rebuilt = tail.substring(0, ret.end) + " " +
        (if (distinctLen > 0) "DISTINCT " else "") +
        kept.mkString(", ") + " " + tail.substring(itemsEnd)
      // alias references outside the RETURN items (WHERE, ORDER BY)
      // would make the spliced constant a filter/sort key — reject
      rb = blankQuoted(rebuilt)
      _ <- aliases.find(a => ("""(?i)(?<![\w.$:])""" +
          java.util.regex.Pattern.quote(a) + """\b""").r
          .findFirstIn(rb).isDefined) match {
        case Some(a) => Left(s"the stage scalar '$a' may only appear " +
          "as a RETURN item of the follow-up MATCH — as a WHERE or " +
          "ORDER BY key it is a constant; compare against the stage " +
          "query directly")
        case None => Right(())
      }
      _ <- parse(stage1, params).left.map(e =>
        s"in the global-aggregate stage: $e")
      _ <- parse(rebuilt, params).left.map(e =>
        s"in the re-entry tail: $e")
      layout = {
        var i = -1
        classified.map {
          case Left(sc) => Left(sc)
          case Right(_) => i += 1; Right(i)
        }
      }
    } yield GlobalAggExpand(stage1, rebuilt, layout)
  }

  private def buildTopK(q: String, mm: scala.util.matching.Regex.Match,
      params: Map[String, String]): Either[String, Statement] = {
    val v = mm.group(1)
    val obFn = Option(mm.group(2))
    val obVar = Option(mm.group(3)).orElse(Option(mm.group(5)))
      .orElse(Option(mm.group(7)))
    val obProp = Option(mm.group(4)).orElse(Option(mm.group(6)))
    // the degree sort key: (relType, targetLabel) as pattern text
    val obSize: Option[String] = Option(mm.group(7)).map { _ =>
      val rel = Option(mm.group(8)).fold("")(t => s":$t")
      val lab = Option(mm.group(9)).fold("")(l => s":$l")
      s"-[$rel]->($lab)"
    }
    val desc = Option(mm.group(10)).exists(_.equalsIgnoreCase("DESC"))
    // the optional secondary tiebreak key `, v.prop [dir]`
    val secVar = Option(mm.group(11))
    val secProp = Option(mm.group(12))
    val secDesc = Option(mm.group(13)).exists(_.equalsIgnoreCase("DESC"))
    val skip = Option(mm.group(14)).map(_.toInt)
    val k = mm.group(15).toInt
    // the stage's sort key as query text: bare property or fn-wrapped
    def obKeyText(p: String): String =
      obFn.map(f => s"$f($v.$p)").getOrElse(s"$v.$p")
    val matchPart = q.substring(0, mm.start).trim
    val tail = q.substring(mm.end)
    val tailBlank = blankQuoted(tail)
    val tailIsMatch =
      """(?is)^\s*MATCH\b""".r.findFirstIn(tailBlank).isDefined
    val tailIsOptional =
      """(?is)^\s*OPTIONAL\b""".r.findFirstIn(tailBlank).isDefined
    val tailIsWrite =
      """(?is)^\s*(SET|DETACH\s+DELETE|REMOVE)\b""".r
        .findFirstIn(tailBlank).isDefined
    // variables the tail references — after `WITH v` only v is in scope
    // (Cypher's scope narrowing); referencing anything else is an error
    // in Neo4j, and silently serving the pre-WITH binding would be a
    // plausible-but-wrong answer. Dotted refs + bare RETURN items +
    // single-var aggregate args, all on the blanked text.
    def tailVars: Set[String] = {
      val dotted = """([A-Za-z_]\w*)\s*\.\s*[A-Za-z_]""".r
        .findAllMatchIn(tailBlank).map(_.group(1)).toSet
      val retBody = tailBlank
        .replaceFirst("""(?is)^\s*RETURN\s+(?:DISTINCT\s+)?""", "")
      val bare = splitTopLevel(retBody).map(_.trim).flatMap {
        case s if s.matches("""[A-Za-z_]\w*""") => Some(s)
        case s if s.matches("""(?is)[A-Za-z_]\w*\s+AS\s+\w+""") =>
          Some(s.split("""(?is)\s+AS\s+""")(0).trim)
        case _ => None
      }.toSet
      val aggArgs = ("""(?i)\b(?:count|sum|avg|min|max|collect)""" +
        """\s*\(\s*(?:DISTINCT\s+)?([A-Za-z_]\w*)\s*\)""").r
        .findAllMatchIn(tailBlank).map(_.group(1)).toSet
      dotted ++ bare ++ aggArgs
    }
    val obGuard: Either[String, Unit] = obVar match {
      case Some(o) if o != v => Left(s"ORDER BY in a `WITH $v … LIMIT` " +
        s"stage may only sort by $v's properties (got " +
        s"$o.${obProp.getOrElse("")})")
      case _ => secVar match {
        case Some(o) if o != v => Left(s"ORDER BY in a `WITH $v … " +
          s"LIMIT` stage may only sort by $v's properties (got the " +
          s"tiebreak $o.${secProp.getOrElse("")})")
        case _ => Right(())
      }
    }
    def foldClean: Boolean =
      FlatAggCallRe.findFirstIn(tailBlank).isEmpty &&
        """(?is)\b(ORDER\s+BY|SKIP|LIMIT|DISTINCT)\b""".r
          .findFirstIn(tailBlank).isEmpty
    // stage-1 synthesis, shared by the read two-phase and the write
    // tail: the k ids under the stage ordering, the user's secondary
    // tiebreak key (r17) slotted between the primary key and the
    // deterministic id tiebreak (its property joins the projection —
    // ORDER BY keys must be projected)
    val skipTxt = skip.map(sk => s" SKIP $sk").getOrElse("")
    val dirTxt = if (desc) " DESC" else ""
    val secDirTxt = if (secDesc) " DESC" else ""
    val secProj = secProp.filterNot(p => p == "id" || obProp.contains(p))
      .fold("")(p => s"$v.$p, ")
    val secOb = secProp.fold("")(p => s"$v.$p$secDirTxt, ")
    val stage1Query: String = ((obSize, obProp) match {
      // degree key: the size() item rides its own alias, ordered
      // by it with the id tiebreak — "the k most connected v"
      case (Some(pat), _) =>
        s"MATCH_STAGE1 RETURN $v.id, ${secProj}size(($v)$pat) " +
          s"AS topk_deg ORDER BY topk_deg$dirTxt, $secOb$v.id" +
          s"$skipTxt LIMIT $k"
      case (None, Some(p)) if p != "id" =>
        s"MATCH_STAGE1 RETURN $v.$p, $secProj$v.id ORDER BY " +
          s"${obKeyText(p)}$dirTxt, $secOb$v.id$skipTxt LIMIT $k"
      case _ =>
        s"MATCH_STAGE1 RETURN $v.id ORDER BY $v.id" +
          s"${if (desc && obProp.contains("id")) " DESC" else ""}" +
          s"$skipTxt LIMIT $k"
    }).replace("MATCH_STAGE1", matchPart)
    val singleNodeGuard: Either[String, Unit] =
      SingleNodeMatchRe.findFirstMatchIn(blankQuoted(matchPart)) match {
        case Some(sm) if sm.group(1) == v => Right(())
        case Some(sm) => Left(s"WITH $v … LIMIT carries '$v' but " +
          s"the MATCH binds '${sm.group(1)}' — carry the matched " +
          "variable")
        case None => Left(s"the two-phase `WITH $v … LIMIT` " +
          s"expansion needs a single-node first MATCH (`MATCH " +
          s"($v[:Label]) [WHERE …]`) — a relationship pattern's " +
          "rows carry per-binding multiplicity an id set cannot " +
          "express")
      }
    val kGuard: Either[String, Unit] =
      if (k <= TopKMaxK) Right(())
      else Left(s"LIMIT $k exceeds the top-k expansion bound " +
        s"($TopKMaxK): the selected ids splice into the tail as a " +
        "bounded broadcast list")
    // a WRITE tail (r17, battery b37/b38): stage 1 owns selection,
    // the tail re-parses as the id-conjunct write MATCH
    def topKWrite(): Either[String, Statement] = {
      val tkw = TopKWrite(stage1Query, v, tail.trim)
      for {
        _ <- singleNodeGuard
        _ <- kGuard
        _ <- parse(stage1Query, params).left
          .map(e => s"in the top-k stage-1: $e")
        probe <- parse(tkw.rebuilt(Seq(0L)), params).left
          .map(e => s"in the top-k write tail: $e")
        _ <- probe match {
          case _: SetContent | _: DetachDeleteNodes => Right(())
          case _ => Left("a top-k write tail may be SET or DETACH " +
            "DELETE — other writes do not target the selected nodes")
        }
      } yield tkw
    }
    def twoPhase(): Either[String, Statement] = {
      val fullTail = if (tailIsMatch) tail.trim
        else matchPart + " " + tail.trim
      val fullBlank = blankQuoted(fullTail)
      for {
        _ <- singleNodeGuard
        _ <- kGuard
        clauseHits = TailClauseKwRe.findAllMatchIn(fullBlank)
          .filter(_.group(1) == null).toList
          .drop(1) // the leading MATCH itself
        splice <- clauseHits.headOption match {
          case None => Left("the clauses after `WITH … LIMIT` need " +
            "a RETURN")
          case Some(h) if h.group(2).equalsIgnoreCase("WHERE") =>
            val bodyEnd = clauseHits.lift(1).map(_.start)
              .getOrElse(fullTail.length)
            Right((fullTail.substring(0, h.start),
              Some(fullTail.substring(h.end, bodyEnd).trim),
              fullTail.substring(bodyEnd)))
          case Some(h) =>
            Right((fullTail.substring(0, h.start), None,
              fullTail.substring(h.start)))
        }
        _ <- if (!tailIsMatch ||
            s"""\\(\\s*$v\\s*[:\\)\\{]""".r
              .findFirstIn(fullBlank.substring(0, clauseHits.headOption
                .map(_.start).getOrElse(fullBlank.length)))
              .isDefined) Right(())
          else Left(s"the follow-up MATCH after `WITH $v … LIMIT` " +
            s"must re-bind '$v' — an unconnected pattern would be a " +
            "cartesian product over the selected rows")
        tk = TopKExpand(stage1Query, v, k, splice._1, splice._2,
          splice._3)
        _ <- parse(stage1Query, params).left
          .map(e => s"in the top-k stage-1: $e")
        _ <- parse(tk.rebuilt(Seq(0L)), params).left
          .map(e => s"in the top-k expansion tail: $e")
      } yield tk
    }
    obGuard.flatMap { _ =>
      if (tailIsOptional)
        Left(s"`WITH $v … LIMIT` into OPTIONAL MATCH is not served " +
          "— the id conjunct would filter the optional bindings, not " +
          "the selected roots; MATCH the expansion (unmatched roots " +
          "then drop) or aggregate instead")
      else if (tailIsWrite) topKWrite()
      else if (tailIsMatch) twoPhase()
      else {
        val extra = tailVars - v
        if (extra.nonEmpty)
          Left(s"'${extra.head}' is out of scope after `WITH $v` — " +
            s"only '$v' survives the stage (Cypher's scope narrowing)")
        else {
          // the fold can only order post-hoc when the stage's sort key
          // is PROJECTED as a bare top-level item in the tail — checked
          // STRUCTURALLY here (the projected-property validation lives
          // at execution, not parse, so a parse-time fallback can't
          // catch it); otherwise two-phase, where stage 1 owns the
          // ordering (final output order then unspecified, as after
          // any non-RETURN ORDER BY)
          val obProjected = obProp.forall { p =>
            val retBody = blankQuoted(tail)
              .replaceFirst("""(?is)^\s*RETURN\s+(?:DISTINCT\s+)?""", "")
            splitTopLevel(retBody).map(_.trim).exists(it =>
              it.matches(
                s"""(?is)$v\\s*\\.\\s*$p(\\s+AS\\s+\\w+)?\\s*;?\\s*"""))
          }
          if (foldClean && obProjected && obSize.isEmpty &&
              secProp.isEmpty && (skip.isEmpty || obProp.isDefined)) {
            // limit-then-project rows map 1:1, so the stage folds into
            // the RETURN tail and keeps the stage's output ordering
            // (a SKIP without ORDER BY runs two-phase: the engine's
            // SKIP-requires-ORDER-BY determinism rule is satisfied
            // there by the stage-1 id order)
            val t2 = tail.replaceAll("""(?s);\s*$""", "")
            val ob = obProp.map(p => s" ORDER BY ${obKeyText(p)}" +
              s"${if (desc) " DESC" else ""}").getOrElse("")
            val sk = skip.map(sk0 => s" SKIP $sk0").getOrElse("")
            parse(s"$matchPart $t2$ob$sk LIMIT $k", params)
          } else twoPhase()
        }
      }
    }
  }

  // a plumbing WITH's item list: bare variables and/or whole-variable
  // renames (`v AS x`) — identifiers only, so any dotted projection,
  // aggregate call, or DISTINCT keyword fails the prefix match and the
  // clause routes to the stage machineries untouched
  private val PlumbingItemsRe =
    """(?is)^\s+(\w+(?:\s+AS\s+\w+)?(?:\s*,\s*\w+(?:\s+AS\s+\w+)?)*)\s*""".r
  private val PlumbingBoundaryRe =
    ("""(?is)^(WHERE|ORDER|SKIP|LIMIT|MATCH|RETURN|WITH|UNWIND|""" +
      """OPTIONAL|SET|DETACH|DELETE|REMOVE|MERGE|CREATE)\b""").r
  private val PlumbingItemRe = """(?is)^(\w+)(?:\s+AS\s+(\w+))?$""".r

  /** Pure variable-plumbing WITH clauses (r17, battery b27): `WITH v
    * AS x[, …]` whole-variable renames and the bare pass-through forms
    * they leave behind. A rename is scope bookkeeping, not computation
    * — the alias substitutes back to the bound variable in everything
    * downstream (quote-safe: located on the blanked text; label,
    * property, and map-key positions excluded), and the residual
    * bare-variable WITH then drops when it feeds a MATCH / RETURN /
    * write clause (row-preserving: no DISTINCT, aggregate, or ordering
    * is involved), stays as a bare stage when it carries ORDER BY /
    * SKIP / LIMIT (the top-k machinery's shape), or merges its leading
    * WHERE into the MATCH's own (`WHERE a WITH n WHERE b` ≡
    * `WHERE a AND b` under pure plumbing). An alias that would shadow
    * an already-bound variable rejects by name — substituting it would
    * silently corrupt the earlier binding's references.
    */
  private def normalizeWithPlumbing(q0: String): Either[String, String] = {
    var q = q0
    var iter = 0
    while (iter < 8) {
      iter += 1
      val blanked = blankQuoted(q)
      val hit = ClauseWithRe.findAllMatchIn(blanked)
        .filter(_.group(1) == null).flatMap { m =>
          PlumbingItemsRe.findPrefixMatchOf(blanked.substring(m.end))
            .flatMap { im =>
              val after = blanked.substring(m.end + im.end)
              PlumbingBoundaryRe.findPrefixMatchOf(after).map { b =>
                val items = im.group(1).split(",").toSeq.map(_.trim)
                  .flatMap {
                    case PlumbingItemRe(v, a) =>
                      Seq((v, Option(a).filter(_ != v)))
                    case _ => Seq.empty // unreachable by construction
                  }
                (m, im, items,
                  b.group(1).toUpperCase(java.util.Locale.ROOT))
              }
            }
        }.find { case (m, _, items, boundary) =>
          // only the FIRST WITH is variable plumbing — its items name
          // MATCH-bound variables; a later bare WITH names the previous
          // STAGE's columns (`WITH m, count(c) AS n WITH n WHERE …`)
          // and belongs to the FlatStage machinery
          !ClauseWithRe.findAllMatchIn(blanked.substring(0, m.start))
            .exists(_.group(1) == null) &&
          // actionable: carries a rename, or is a bare list whose
          // boundary the legacy strip does not already serve (RETURN /
          // WHERE / a following stage); bare-before-MATCH stays with
          // stripPassthroughWith, bare-with-ordering with the top-k
          // machinery
          (items.exists(_._2.isDefined) ||
            boundary == "RETURN" || boundary == "WHERE" ||
            boundary == "WITH")
        }
      hit match {
        case None => return Right(q)
        case Some((m, im, items, boundary)) =>
          val renames = items.collect { case (v, Some(a)) => (v, a) }
          val vars = items.map(_._1)
          val aliases = renames.map(_._2)
          if (aliases.distinct.size != aliases.size)
            return Left("duplicate WITH alias: " +
              aliases.diff(aliases.distinct).distinct.mkString(", "))
          if (aliases.exists(vars.contains))
            return Left("a WITH alias may not collide with a carried " +
              s"variable (${aliases.filter(vars.contains).head}) — " +
              "rename to a fresh name")
          val pre = blanked.substring(0, m.start)
          aliases.find(a =>
            ("""[(\[]\s*""" + java.util.regex.Pattern.quote(a) +
              """\b""").r.findFirstIn(pre).isDefined) match {
            case Some(a) => return Left(s"WITH … AS $a would shadow " +
              s"the already-bound variable '$a' — rename to a fresh " +
              "name")
            case None => ()
          }
          val tailStart = m.end + im.end
          // substitute each alias back to its variable across the tail,
          // one rename at a time (each application re-blanks): skip
          // label positions (:x), dotted-property positions (n.x), and
          // map keys ({x: …})
          var tail = q.substring(tailStart)
          renames.foreach { case (v, a) => tail = substVar(tail, a, v) }
          val head = q.substring(0, m.start)
          q = boundary match {
            case "ORDER" | "SKIP" | "LIMIT" =>
              // the stage carries ordering — keep it as a bare-variable
              // top-k stage over the original variables
              head + "WITH " + vars.distinct.mkString(", ") + " " + tail
            case "WHERE" =>
              attachLeadingWhere(head, pre, tail) match {
                case Left(e) => return Left(e)
                case Right(r) => r
              }
            case _ => head + tail // MATCH/RETURN/WITH/UNWIND/write tails
          }
      }
    }
    Right(q)
  }

  // `WITH v, size((v)-[:T]->([:L])) AS d` — a DEGREE column projected
  // through a stage (battery b44); single-hop outgoing, the size-sugar
  // shape, anchored on the stage variable itself
  private val DegProjWithRe =
    ("""(?is)\bWITH\s+(\w+)\s*,\s*size\s*\(\s*\(\s*(\w+)\s*\)\s*""" +
      """-\s*\[\s*(?::\s*(\w+))?\s*\]\s*-\s*>\s*""" +
      """\(\s*(?::\s*(\w+))?\s*\)\s*\)\s+AS\s+(\w+)\b""").r

  /** Degree-projection WITH stages (r17, battery b44): `WITH v,
    * size((v)-[:T]->()) AS d ORDER BY d DESC LIMIT k RETURN …, d` —
    * the computed column is the SAME degree expression everywhere it
    * is referenced, so the stage desugars onto machinery that already
    * exists: the WITH keeps only the bare variable (the top-k degree
    * sort key serves the stage's ORDER BY), pre-RETURN references to
    * the alias take the bare size() expression, and bare-alias RETURN
    * items take `size(…) AS d` (the RETURN-side size sugar). Degree is
    * a per-root edge count, so re-evaluating it over the id-limited
    * roots in a two-phase tail answers identically.
    */
  private def desugarDegreeProjection(q: String): String = {
    val blanked = blankQuoted(q)
    DegProjWithRe.findFirstMatchIn(blanked) match {
      case Some(m) if m.group(1) == m.group(2) &&
          !ClauseWithRe.findAllMatchIn(blanked.substring(0, m.start))
            .exists(_.group(1) == null) &&
          // a true clause WITH, not STARTS/ENDS WITH (the regex's own
          // \bWITH cannot see the preceding operator keyword)
          !"""(?is)(?:STARTS|ENDS)\s*$""".r
            .findFirstIn(blanked.substring(0, m.start)).isDefined =>
        val v = m.group(1)
        val rel = Option(m.group(3)).fold("")(t => s":$t")
        val lab = Option(m.group(4)).fold("")(l => s":$l")
        val alias = m.group(5)
        val sizeExpr = s"size(($v)-[$rel]->($lab))"
        var rest = q.substring(m.end)
        val rb = blankQuoted(rest)
        val retStart = ClauseReturnRe.findFirstMatchIn(rb).map(_.start)
          .getOrElse(rb.length)
        // pre-RETURN references (the stage's ORDER BY, a WHERE) take
        // the bare expression; bare-alias RETURN items take the
        // aliased size sugar; post-RETURN (ORDER BY) references keep
        // the alias, which resolves through the projected item
        val head0 = substVar(rest.substring(0, retStart), alias, sizeExpr)
        var tail0 = rest.substring(retStart)
        val tb = blankQuoted(tail0)
        ClauseReturnRe.findFirstMatchIn(tb).foreach { rm =>
          val itemsEnd = """(?is)\b(ORDER|SKIP|LIMIT)\b""".r
            .findFirstMatchIn(tb.substring(rm.end))
            .map(rm.end + _.start).getOrElse(tb.length)
          val distinctLen = """(?is)^\s*DISTINCT\b""".r
            .findFirstIn(tb.substring(rm.end, itemsEnd))
            .map(_.length).getOrElse(0)
          val itemsStart = rm.end + distinctLen
          val retItems =
            splitTopLevel(tail0.substring(itemsStart, itemsEnd))
              .map(_.trim).map { it =>
                if (it.equalsIgnoreCase(alias)) s"$sizeExpr AS $alias"
                else it
              }
          tail0 = tail0.substring(0, itemsStart) + " " +
            retItems.mkString(", ") + " " + tail0.substring(itemsEnd)
        }
        q.substring(0, m.start) + s"WITH $v " + head0 + tail0
      case _ => q
    }
  }

  // one projection-WITH item: a single-arg scalar fn over a dotted
  // property, a bare dotted property, or a bare variable — each with an
  // optional alias. Aggregate calls never match (their args are `*` or
  // lack the dotted shape the fn arm requires — and the fn whitelist
  // excludes them anyway).
  private val ProjItemRe =
    ("""(?is)^(?:(toLower|toUpper|trim|size|toInteger|toFloat)\s*\(\s*""" +
      """(\w+)\s*\.\s*(\w+)\s*\)|(\w+)\s*\.\s*(\w+)|(\w+))""" +
      """(?:\s+AS\s+(\w+))?$""").r

  /** A pure PROJECTION first-WITH feeding WHERE or RETURN (r17,
    * battery b36): `WITH toLower(n.name) AS lo … RETURN lo[, count(*)]`
    * — scope bookkeeping over 1:1 rows, folded textually: each aliased
    * expression substitutes into the tail (bare-alias RETURN items
    * become `expr AS alias`, so the output name and Cypher's
    * group-by-the-projected-expression rule are preserved; WHERE
    * references take the bare expression), whole-variable items ride
    * the same substitution the plumbing pass uses, and the WITH clause
    * drops (its leading WHERE merging into the MATCH's own exactly as
    * [[normalizeWithPlumbing]] does). No DISTINCT, aggregate, or
    * ordering is involved, so rows map 1:1 and the fold is exact.
    */
  private def foldProjectionWith(q: String): Either[String, String] = {
    val blanked = blankQuoted(q)
    val cand = ClauseWithRe.findAllMatchIn(blanked)
      .filter(_.group(1) == null).take(1).toList.headOption
      .filter(m => !ClauseWithRe.findAllMatchIn(
        blanked.substring(0, m.start)).exists(_.group(1) == null))
    cand match {
      case None => Right(q)
      case Some(m) =>
        // items run to the first clause keyword; the segment must
        // contain a dot (else it was plumbing) and every comma-split
        // item must parse as a projection item
        val afterAll = blanked.substring(m.end)
        val bnd = """(?is)\b(WHERE|ORDER|SKIP|LIMIT|MATCH|RETURN|WITH|UNWIND|OPTIONAL|SET|DETACH|DELETE|REMOVE|MERGE|CREATE)\b""".r
          .findFirstMatchIn(afterAll)
        bnd match {
          case Some(b) if b.group(1).equalsIgnoreCase("WHERE") ||
              b.group(1).equalsIgnoreCase("RETURN") =>
            val itemsText = q.substring(m.end, m.end + b.start)
            if (!itemsText.contains(".")) Right(q)
            else {
              val parsedOpt = itemsText.split(",").toSeq.map(_.trim)
                .map {
                  case ProjItemRe(fn, v1, p1, v2, p2, bare, alias) =>
                    if (fn != null)
                      Some(("fn", s"$fn($v1.$p1)", Option(alias)))
                    else if (v2 != null)
                      Some(("prop", s"$v2.$p2", Option(alias)))
                    else Some(("var", bare, Option(alias)))
                  case _ => None
                }
              if (parsedOpt.exists(_.isEmpty)) Right(q) // not this pass
              else {
                val items = parsedOpt.flatten
                val aliases = items.flatMap(_._3)
                if (aliases.distinct.size != aliases.size)
                  Left("duplicate WITH alias: " +
                    aliases.diff(aliases.distinct).distinct.mkString(", "))
                else {
                  val pre = blanked.substring(0, m.start)
                  aliases.find(a => ("""[(\[]\s*""" +
                      java.util.regex.Pattern.quote(a) + """\b""").r
                      .findFirstIn(pre).isDefined) match {
                    case Some(a) =>
                      Left(s"WITH … AS $a would shadow the " +
                        s"already-bound variable '$a' — rename to a " +
                        "fresh name")
                    case None =>
                      foldProjTail(q, m.start, m.end + b.start, items)
                  }
                }
              }
            }
          case _ => Right(q)
        }
    }
  }

  /** The tail rewrite of [[foldProjectionWith]]: substitute each
    * aliased item into the tail and drop the WITH clause.
    */
  private def foldProjTail(q: String, wStart: Int, tailStart: Int,
      items: Seq[(String, String, Option[String])])
      : Either[String, String] = {
    var tail = q.substring(tailStart)
    // whole-variable renames substitute everywhere (label / map-key /
    // quote safe), exactly as the plumbing pass
    items.collect { case ("var", v, Some(a)) if a != v => (v, a) }
      .foreach { case (v, a) => tail = substVar(tail, a, v) }
    // expression items: rewrite bare-alias RETURN items to
    // `expr AS alias`, then substitute remaining PRE-RETURN references
    // (WHERE region) with the bare expression
    val exprItems = items.collect {
      case (k, e, Some(a)) if k != "var" => (e, a)
    }
    if (exprItems.nonEmpty) {
      val tb = blankQuoted(tail)
      val retM = ClauseReturnRe.findFirstMatchIn(tb)
      retM.foreach { rm =>
        val itemsEnd = """(?is)\b(ORDER|SKIP|LIMIT)\b""".r
          .findFirstMatchIn(tb.substring(rm.end))
          .map(rm.end + _.start).getOrElse(tb.length)
        val distinctLen =
          """(?is)^\s*DISTINCT\b""".r.findFirstIn(
            tb.substring(rm.end, itemsEnd)).map(_.length).getOrElse(0)
        val itemsStart = rm.end + distinctLen
        val retItems = splitTopLevel(tail.substring(itemsStart, itemsEnd))
          .map(_.trim).map { it =>
            exprItems.collectFirst {
              case (e, a) if it.equalsIgnoreCase(a) => s"$e AS $a"
              case (e, a) if it.matches(
                  s"(?is)$a\\s+AS\\s+(\\w+)") =>
                s"$e AS ${it.replaceAll("(?is)^\\w+\\s+AS\\s+", "")}"
            }.getOrElse(it)
          }
        tail = tail.substring(0, itemsStart) + " " +
          retItems.mkString(", ") + " " + tail.substring(itemsEnd)
      }
      // remaining references take the bare expression: a BARE-PROPERTY
      // alias substitutes everywhere (aggregate args included —
      // `count(nm)` becomes `count(n.name)`, battery c04 — and ORDER
      // BY keys, which sort identically through the projected base);
      // an fn alias substitutes only in the pre-RETURN (WHERE) region,
      // where the fn-on-the-LHS comparison grammar serves it — inside
      // an aggregate call it would be an unsupported shape, better
      // surfaced against the alias-free spelling
      val propAliases = items.collect {
        case ("prop", _, Some(a)) => a
      }.toSet
      exprItems.foreach { case (e, a) =>
        val isProp = propAliases.contains(a)
        val tb2 = blankQuoted(tail)
        val limitEnd = if (isProp) tb2.length
          else ClauseReturnRe.findFirstMatchIn(tb2).map(_.start)
            .getOrElse(tb2.length)
        val re = ("""(?<![\w.$:])""" +
          java.util.regex.Pattern.quote(a) + """\b""").r
        val head0 = tail.substring(0, limitEnd)
        val hb = blankQuoted(head0)
        val sb = new StringBuilder
        var pos = 0
        re.findAllMatchIn(hb).foreach { am =>
          // never rewrite an OUTPUT name: `… AS nm` keeps its alias
          // (the bare-item rewrite above just created those)
          val isOutputName = """(?is)\bAS\s*$""".r
            .findFirstIn(hb.substring(0, am.start)).isDefined
          if (!isOutputName) {
            sb.append(head0.substring(pos, am.start)).append(e)
            pos = am.end
          }
        }
        sb.append(head0.substring(pos))
        tail = sb.toString + tail.substring(limitEnd)
      }
    }
    val head = q.substring(0, wStart)
    val pre = blankQuoted(q).substring(0, wStart)
    if ("""(?is)^\s*WHERE\b""".r.findFirstIn(
        blankQuoted(tail)).isDefined)
      attachLeadingWhere(head, pre, tail)
    else Right(head + tail)
  }

  /** Attach a tail that BEGINS with `WHERE <body>` (left behind by a
    * dropped plumbing/projection WITH) to the right clause. Three
    * placements, in order of preference:
    *  - a plain MATCH immediately follows the body → the filter moves
    *    AFTER that MATCH's pattern (root-prop filters commute with the
    *    inner expansion, and `MATCH … WHERE … MATCH …` has no parse —
    *    the junction splice needs the patterns adjacent), AND-merging
    *    with the MATCH's own WHERE when one exists;
    *  - the preceding MATCH already carries a WHERE → `AND`-merge;
    *  - otherwise the WHERE attaches to the preceding MATCH as-is.
    * AND-merges reject compound OR bodies by name rather than silently
    * re-associating them (`a AND b OR c` ≠ `a AND (b OR c)`).
    */
  private def attachLeadingWhere(head: String, pre: String,
      tail: String): Either[String, String] = {
    val tb = blankQuoted(tail)
    val wEnd = """(?is)^\s*WHERE\b""".r.findFirstMatchIn(tb)
      .map(_.end).getOrElse(0)
    val kws = TailClauseKwRe.findAllMatchIn(tb)
      .filter(m => m.group(1) == null && m.start >= wEnd).toList
    def hasTopOr(s: String): Boolean =
      """(?i)\bOR\b""".r.findFirstIn(blankQuoted(s)).isDefined
    kws.headOption match {
      case Some(kw) if kw.group(2).equalsIgnoreCase("MATCH") =>
        val body = tail.substring(wEnd, kw.start).trim
        val nextOpt = kws.lift(1)
        nextOpt match {
          case Some(nk) if nk.group(2).equalsIgnoreCase("WHERE") =>
            if (hasTopOr(body) ||
                hasTopOr(tail.substring(nk.end,
                  kws.lift(2).map(_.start).getOrElse(tail.length))))
              Left("cannot AND-merge an OR condition across a dropped " +
                "WITH stage — write the filter in one WHERE clause")
            else Right(head + tail.substring(kw.start, nk.end) +
              " " + body + " AND" + tail.substring(nk.end))
          case _ =>
            val pos = nextOpt.map(_.start).getOrElse(tail.length)
            Right(head + tail.substring(kw.start, pos) +
              s" WHERE $body " + tail.substring(pos))
        }
      case _ =>
        val lastOpen = """(?i)\b(MATCH|UNWIND)\b""".r
          .findAllMatchIn(pre).toSeq.lastOption.map(_.start).getOrElse(0)
        val preWhere = """(?i)\bWHERE\b""".r
          .findFirstMatchIn(pre.substring(lastOpen))
        if (preWhere.isEmpty) Right(head + tail)
        else {
          val body = tail.substring(wEnd,
            kws.headOption.map(_.start).getOrElse(tail.length))
          val preBody = pre.substring(lastOpen + preWhere.get.end)
          if (hasTopOr(body) || hasTopOr(preBody))
            Left("cannot AND-merge an OR condition across a dropped " +
              "WITH stage — write the filter in one WHERE clause")
          else Right(head +
            tail.replaceFirst("""(?is)^\s*WHERE\b""", " AND"))
        }
    }
  }

  /** Label-, map-key-, and quote-safe whole-variable substitution
    * (alias → variable), shared by the plumbing and projection passes.
    */
  private def substVar(text: String, from: String, to: String): String = {
    val tb = blankQuoted(text)
    val re = ("""(?<![\w.$:])""" +
      java.util.regex.Pattern.quote(from) + """\b""").r
    val sb = new StringBuilder
    var pos = 0
    re.findAllMatchIn(tb).foreach { am =>
      val depth = tb.substring(0, am.start)
        .foldLeft(0)((d, c) => if (c == '{') d + 1
          else if (c == '}') d - 1 else d)
      val isMapKey = depth > 0 &&
        """^\s*:""".r.findFirstIn(tb.substring(am.end)).isDefined
      if (!isMapKey) {
        sb.append(text.substring(pos, am.start)).append(to)
        pos = am.end
      }
    }
    sb.append(text.substring(pos))
    sb.toString
  }

  private def stripPassthroughWith(q: String): String = {
    val blanked = blankQuoted(q)
    val ms = PassthroughWithRe.findAllMatchIn(blanked).toList
    if (ms.isEmpty) q
    else {
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { m => sb.append(q.substring(pos, m.start)); pos = m.end }
      sb.append(q.substring(pos)).toString
    }
  }

  // the previous clause's TRAILING node pattern and a follow-up MATCH's
  // LEADING node pattern that continues into a relationship segment —
  // the two ends of a linear multi-MATCH junction
  private val TailNodePatRe =
    """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*$""".r
  private val HeadNodeContRe =
    """^\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)\s*(?=-)""".r
  private val OptionalTailRe = """(?is)\bOPTIONAL\s*$""".r
  private val MatchTokRe = """(?i)\bMATCH\b""".r

  /** Cypher's multi-clause MATCH composition in its LINEAR form: a
    * follow-up `MATCH (b)-[…]->(c)` whose head variable `b` is exactly
    * the variable the previous pattern just bound joins on `b` — which is
    * the single chain pattern `(a)-[…]->(b)-[…]->(c)` (the frontier-join
    * plan the chain machinery already builds). Normalized by TEXTUAL
    * splice before parsing, so both spellings flow through the same
    * single/two-step/N-step machinery and their semantics cannot drift.
    * (Chain joins are per-step frontier joins with no relationship-
    * uniqueness constraint, which is precisely multi-MATCH semantics —
    * the spellings are equivalent here, not merely similar.)
    * Label/property constraints repeated on the shared variable merge; a
    * CONFLICTING label is an error, not a silent pick. `OPTIONAL MATCH`
    * junctions are left alone (optional semantics are per-clause), as are
    * follow-up MATCHes on a fresh variable (the cartesian DualMatch form)
    * and hop-less re-matches.
    */
  private def mergeConsecutiveMatches(q: String)
      : Either[String, String] = {
    val blanked = blankQuoted(q)
    val junctions = MatchTokRe.findAllMatchIn(blanked).toList.drop(1)
      .filterNot(mk =>
        OptionalTailRe.findFirstIn(blanked.substring(0, mk.start)).isDefined)
    val spliced = junctions.iterator.map { mk =>
      (TailNodePatRe.findFirstMatchIn(blanked.substring(0, mk.start)),
        HeadNodeContRe.findFirstMatchIn(blanked.substring(mk.end))) match {
        case (Some(t), Some(h)) if t.group(1) == h.group(1) =>
          val tLab = Option(t.group(2))
          val hLab = Option(h.group(2))
          if (tLab.isDefined && hLab.isDefined && tLab != hLab)
            Some(Left(s"variable '${t.group(1)}' re-matched with a " +
              s"conflicting label: ${tLab.get} vs ${hLab.get}"))
          else {
            // cut positions are computed on the length-preserving blanked
            // text but the splice is cut from the ORIGINAL, so quoted
            // property values survive intact
            def grp(m: scala.util.matching.Regex.Match, off: Int)
                : Option[String] =
              Option(m.group(3)).map(_ => q.substring(off + m.start(3),
                off + m.end(3)).trim).filter(_.nonEmpty)
            val props = (grp(t, 0) ++ grp(h, mk.end)).toSeq
            val merged = "(" + t.group(1) +
              (tLab orElse hLab).fold("")(l => ":" + l) +
              (if (props.isEmpty) "" else props.mkString(" {", ", ", "}")) +
              ")"
            Some(Right(q.substring(0, t.start) + merged +
              q.substring(mk.end + h.end)))
          }
        case _ => None
      }
    }.collectFirst { case Some(r) => r }
    spliced match {
      case None => Right(q)
      case Some(Left(e)) => Left(e)
      // re-scan: a 3-clause query merges one junction per pass
      case Some(Right(q2)) => mergeConsecutiveMatches(q2)
    }
  }

  private def parseStmt(query: String,
      params: Map[String, String] = Map.empty): Either[String, Statement] =
    query match {
    case DeleteRe(_, tag) => Right(DetachDelete(tag))
    case DeleteNodesRe(m, label, batch, propsStr, whereStr, delV) =>
      for {
        _ <- if (delV != m)
          Left(s"DETACH DELETE may only take the matched variable " +
            s"'$m', got '$delV'")
        else Right(())
        props <- resolveProps(Option(propsStr).getOrElse(""), params)
        whereParsed <- parseWhereClause(m, None, whereStr)
        conds <- whereParsed match {
          case (cs, None) => Right(cs)
          case (_, Some(_)) => Left("a pattern-existence WHERE cannot " +
            "gate a DETACH DELETE — filter with comparisons instead")
        }
      } yield DetachDeleteNodes(Option(label), Option(batch), props,
        conds)
    // pattern-less literal RETURN (r15): `RETURN 1` / `RETURN 'x' AS a`
    // — the sanity/connectivity probes LLM agents open a session with;
    // one driver-free row, Neo4j's column-naming rule (the expression
    // text unless aliased)
    case ReturnLiteralRe(num, str, alias) =>
      Right(ReturnLiteral(Option(num), Option(str), Option(alias)))
    case UnwindPrefixRe(listStr, x, rest) =>
      val elems = splitTopLevel(listStr).map(_.trim).filter(_.nonEmpty)
      if (elems.distinct.size == elems.size)
        rewriteUnwind(listStr, x, rest).flatMap(parse(_, params))
      else parseUnwindBag(elems, x, rest, params)
    // relationship write forms first: their hop bracket keeps them out
    // of every hop-less statement regex
    case RemoveRelRe(aV, aL, aP, rV, relT, bV, bL, bP, whereStr,
        remList) =>
      parseEdgeWrite(aV, aL, aP, rV, relT, bV, bL, bP,
        Option(whereStr), params).flatMap { case (pat, conds) =>
        val items = RemoveItemRe.findAllMatchIn(remList).toSeq
        for {
          _ <- items.find(_.group(1) != rV).map(i =>
            Left(s"REMOVE may only take the bound relationship '$rV', " +
              s"got '${i.group(1)}'")).getOrElse(Right(()))
          ps = items.map(_.group(2))
          _ <- if (ps.distinct.size != ps.size)
            Left("duplicate property in REMOVE") else Right(())
        } yield RemoveRelProps(pat, conds, ps)
      }
    case SetRelRe(aV, aL, aP, rV, relT, bV, bL, bP, whereStr, setList) =>
      parseEdgeWrite(aV, aL, aP, rV, relT, bV, bL, bP,
        Option(whereStr), params).flatMap { case (pat, conds) =>
        val assigns = OnSetAssignRe.findAllMatchIn(setList).toSeq
        for {
          _ <- assigns.find(_.group(1) != rV).map(a =>
            Left(s"SET may only write the bound relationship '$rV', " +
              s"got '${a.group(1)}'")).getOrElse(Right(()))
          _ <- if (assigns.map(_.group(2)).distinct.size != assigns.size)
            Left("duplicate property in SET") else Right(())
          resolved <- assigns
            .foldLeft[Either[String, Map[String, String]]](
              Right(Map.empty)) { (acc, a) => acc.flatMap { m =>
              (if (a.group(3) != null) Right(a.group(3))
               else params.get(a.group(4))
                 .toRight(s"missing parameter $$${a.group(4)} (have: " +
                   s"${params.keys.toSeq.sorted.mkString(", ")})"))
                .map(v => m + (a.group(2) -> v))
            } }
        } yield SetRelProps(pat, conds, resolved)
      }
    case SetRelMapRe(aV, aL, aP, rV, relT, bV, bL, bP, whereStr,
        setVar, op, mapBody) =>
      parseEdgeWrite(aV, aL, aP, rV, relT, bV, bL, bP,
        Option(whereStr), params).flatMap { case (pat, conds) =>
        val entries = OnSetAssignMapRe.findAllMatchIn(mapBody).toSeq
        // the same completeness check as parseRelProps: every `key:`
        // token in the brace span must have parsed, or the value form
        // is unsupported — reject by name, never drop silently. Counted
        // on the QUOTE-BLANKED body (as parseRelProps and
        // buildChainStmt do), so a quoted value containing a
        // colon-suffixed word ({note: 'see docs: here'}) cannot
        // inflate the count and falsely reject a valid map (ADVICE r13)
        val keyTokens =
          """\w+\s*:""".r.findAllMatchIn(blankQuoted(mapBody)).size
        for {
          _ <- if (setVar != rV)
            Left(s"SET may only write the bound relationship '$rV', " +
              s"got '$setVar'")
          else Right(())
          _ <- if (entries.size != keyTokens)
            Left("unsupported value form in the SET property map — " +
              "values are 'quoted' literals or $params " +
              s"(got: {${mapBody.trim.take(60)}})")
          else Right(())
          _ <- if (entries.isEmpty && op == "+=")
            Left("SET r += {} is a no-op — name at least one property")
          else Right(())
          ks = entries.map(_.group(1))
          _ <- if (ks.distinct.size != ks.size)
            Left("duplicate property in the SET map") else Right(())
          resolved <- entries
            .foldLeft[Either[String, Map[String, String]]](
              Right(Map.empty)) { (acc, e) => acc.flatMap { m =>
              (if (e.group(2) != null) Right(e.group(2))
               else params.get(e.group(3))
                 .toRight(s"missing parameter $$${e.group(3)} (have: " +
                   s"${params.keys.toSeq.sorted.mkString(", ")})"))
                .map(v => m + (e.group(1) -> v))
            } }
        } yield SetRelProps(pat, conds, resolved, replace = op == "=")
      }
    case DeleteRelRe(aV, aL, aP, rV, relT, bV, bL, bP, whereStr, delV) =>
      parseEdgeWrite(aV, aL, aP, rV, relT, bV, bL, bP,
        Option(whereStr), params).flatMap { case (pat, conds) =>
        if (delV != rV)
          Left(s"DELETE may only take the bound relationship '$rV', " +
            s"got '$delV'")
        else Right(DeleteRels(pat, conds))
      }
    case SetRe(m, label, batch, propsStr, whereStr, setVar, setProp,
        litValue, paramValue) =>
      for {
        _ <- if (setVar != m)
          Left(s"SET may only write the matched variable '$m', " +
            s"got '$setVar'")
        else Right(())
        // any USER property is writable (r15); label/batch are the
        // engine's kind/lineage columns — point at the property model
        // rather than a bare "unsupported"
        _ <- if (SupportedProps(setProp)) Right(())
        else if (setProp == "label" || setProp == "batch")
          Left(s"'$setProp' is not a node property in this engine's " +
            "model (fixed user columns content/name/docnbr plus the " +
            "label kind and batch lineage columns) — re-labeling/" +
            "re-tagging is a CREATE + DETACH DELETE, not a SET")
        else
          Left(s"unsupported SET property: $setProp " +
            s"(writable: ${SupportedProps.toSeq.sorted.mkString(", ")}; " +
            "note the node id keeps hashing the ORIGINAL values — " +
            "SET does not re-key)")
        props <- resolveProps(Option(propsStr).getOrElse(""), params)
        value <- if (litValue != null) Right(litValue)
          else params.get(paramValue)
            .toRight(s"missing parameter $$$paramValue " +
              s"(have: ${params.keys.toSeq.sorted.mkString(", ")})")
        whereParsed <- parseWhereClause(m, None, whereStr)
        conds <- whereParsed match {
          case (cs, None) => Right(cs)
          case (_, Some(_)) => Left("a pattern-existence WHERE cannot " +
            "gate a SET — filter with comparisons instead")
        }
      } yield SetContent(Option(label), props, conds, value, Option(batch),
        setProp)
    case CreateRe(v, label, batch, propsStr) =>
      parseCreate(label, Option(batch), propsStr, params)
    // branch-aware MERGE: created vs matched nodes take different SET
    // values — must be tried before the plain form
    case MergeOnSetRe(v, label, batch, propsStr, onBlock) =>
      parseMergeOnSet(v, label, Option(batch), propsStr, onBlock, params)
    // MERGE ≡ CREATE here: deterministic node ids make CREATE the
    // match-or-create upsert already (A11/A12), which is exactly MERGE's
    // contract — re-running either is a no-op
    case MergeRe(v, label, batch, propsStr) =>
      parseCreate(label, Option(batch), propsStr, params)
    // a MERGE with ON clauses that did NOT match the strict form above:
    // reject with a targeted message instead of the generic parse error
    case q if "(?is)^\\s*MERGE\\b.*\\bON\\s+(CREATE|MATCH)\\b.*".r
        .matches(q) =>
      Left("unparseable MERGE … ON CREATE/ON MATCH SET — supported " +
        "shape: MERGE (n:Label[:Batch] {name: '…'[, …]}) " +
        "[ON CREATE SET n.content = '…'|$p] " +
        "[ON MATCH SET n.content = '…'|$p], each clause at most once")
    // MATCH (a…) MATCH (b…) MERGE (a)-[r:R]->(b) ON CREATE/ON MATCH SET
    // r.prop = … — the relationship-side branch-aware MERGE; before
    // MergeEdgeRe so the plain form's clause-block repetition never
    // half-matches a query with ON branches
    case MergeEdgeOnSetRe(aV, aL, aB, aP, bV, bL, bB, bP, srcV, relVar,
        relType, clauseProps, dstV, onBlock) =>
      parseMergeEdgeOnSet(Seq(aV, aL, aB, aP, bV, bL, bB, bP, srcV, dstV),
        relVar, relType, Option(clauseProps), onBlock, params)
    // MATCH (a…) MATCH (b…) MERGE (a)-[:R]->(b) … — the relationship
    // write (reference `new_final.js:34-38`); checked before the chain
    // scanner so a 3-clause MERGE block is not misread as a path
    case MergeEdgeRe(aV, aL, aB, aP, bV, bL, bB, bP, mergeBlock) =>
      parseMergeEdges(Seq(aV, aL, aB, aP, bV, bL, bB, bP),
        mergeBlock, params)
    // an edge MERGE with ON clauses that did NOT match the strict form:
    // name the supported shape (single clause, bound rel var) instead of
    // the generic parse error
    case q if ("(?is)^\\s*MATCH\\b.*\\bMERGE\\b.*\\bON\\s+" +
        "(CREATE|MATCH)\\b.*").r.matches(q) =>
      Left("unparseable relationship MERGE … ON CREATE/ON MATCH SET — " +
        "supported shape: MATCH (a:L1 {…}) MATCH (b:L2 {…}) " +
        "MERGE (a)-[r:R [{…}]]->(b) [ON CREATE SET r.prop = '…'|$p] " +
        "[ON MATCH SET r.prop = '…'|$p] — ONE MERGE clause, a bound " +
        "relationship variable, each ON clause at most once")
    // ≥3 relationship segments: the N-step chain scanner (regexes cannot
    // express a repeated group) — checked before the fixed-arity forms
    case q if looksMultiChain(q) => parseMultiChain(q)
    case SizeQueryRe(m, label, propsStr, whereStr, leadStr, sizeVar, relT,
        hopsK, connLab, aliasStr, obClause, skipStr, limitStr) =>
      val props = Option(propsStr).toSeq
        .flatMap(s => PropRe.findAllMatchIn(s)
          .map(p => p.group(1) -> p.group(2))).toMap
      val sizeAlias = Option(aliasStr).getOrElse("degree")
      // leading items: m / m.prop, each optionally AS-aliased
      val leadE: Either[String, Seq[(RetItem, Option[String])]] = {
        val parsed = splitTopLevel(leadStr).map { part =>
          def one(body: String): Either[String, RetItem] = body match {
            case VarPropRe(v, p) if v == m => Right(RetProp(p))
            case VarRe(v) if v == m => Right(RetVar)
            case other => Left("a size() query projects the matched " +
              s"variable's properties ($m.<prop>) before the size item, " +
              s"got '${other.trim.take(40)}'")
          }
          part match {
            case AsItemRe(body, a) => one(body).map(i => (i, Some(a)))
            case p => one(p).map(i => (i, None))
          }
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(x) => x }))
      }
      for {
        _ <- if (sizeVar != m)
          Left(s"size() may only anchor the matched variable '$m', " +
            s"got '$sizeVar'")
        else Right(())
        whereParsed <- parseWhereClause(m, None, whereStr)
        rootConds <- whereParsed match {
          case (cs, None) => Right(cs)
          case (_, Some(_)) => Left("a pattern-existence WHERE cannot " +
            "be combined with size() — the size item IS the pattern")
        }
        lead <- leadE
        _ <- if (lead.isEmpty) Left("RETURN needs at least one item " +
          "before size()")
        else Right(())
        _ <- if (lead.exists(_._1 == RetVar) && lead.size > 1)
          Left("project either the whole node or properties before " +
            "size(), not both")
        else Right(())
        _ <- if (lead.exists(p => p._1 == RetVar && p._2.isDefined))
          Left("AS may only alias a property item, not a whole node — " +
            "project properties instead")
        else Right(())
        leadProps = lead.collect { case (RetProp(p), _) => p }
        ob <- {
          def d(x: String) = x != null && x.equalsIgnoreCase("DESC")
          def one(part: String): Either[String, (String, Boolean)] =
            part match {
              case ObPropItemRe(v, p, dir) if v == m =>
                if (!leadProps.contains(p) && !lead.exists(_._1 == RetVar))
                  Left(s"ORDER BY key '$v.$p' must be among the returned " +
                    "properties")
                else Right((p, d(dir)))
              case ObBareItemRe(b, dir) if b == sizeAlias =>
                Right((CountKey, d(dir)))
              case other => Left("a size() query orders by $m properties " +
                s"or the size alias '$sizeAlias', got " +
                s"'${other.trim.take(40)}'")
            }
          Option(obClause) match {
            case None => Right(Seq.empty[(String, Boolean)])
            case Some(cl) =>
              val parsed = cl.split(",").toSeq.map(one)
              parsed.collectFirst { case Left(e) => Left(e) }
                .getOrElse(Right(parsed.collect { case Right(k) => k }))
          }
        }
        _ <- if (skipStr != null && ob.isEmpty)
          Left("SKIP requires ORDER BY")
        else Right(())
      } yield MatchReturn(Option(label), props, Option(relT),
        Option(hopsK).map(_.toInt).getOrElse(1),
        // the optional pattern's target-label constraint filters BINDINGS
        // (a root with no :Label children answers 0)
        Option(connLab).toSeq
          .map(l => Seq(Cond("label", "=", l, onConn = true))),
        lead.map(_._1) :+ RetCount(distinct = false), ob,
        Option(skipStr).map(_.toInt), Option(limitStr).map(_.toInt),
        optional = true, distinct = false, existsPat = None,
        // identity grouping: size() is an expression, so two roots
        // sharing every projected value still answer separate rows
        withSpec = Some(WithSpec(groupIdentity = true, Seq(sizeAlias),
          None)),
        aliases = lead.flatMap { case (i, a) =>
          a.flatMap(al => (i match {
            case RetProp(p) => Some(s"m_$p")
            case _ => None
          }).map(_ -> al))
        }.toMap,
        rootConds = rootConds)
    case DualMatchRe(aVar, aLabel, aPropsStr, bVar, bLabel, bPropsStr,
        whereStr, distinctKw, retStr, obClause, skipStr, limitStr) =>
      def propsOf(s: String): Map[String, String] =
        Option(s).toSeq.flatMap(x => PropRe.findAllMatchIn(x)
          .map(p => p.group(1) -> p.group(2))).toMap
      val nodes = Seq(ChainNode(aVar, Option(aLabel), propsOf(aPropsStr)),
        ChainNode(bVar, Option(bLabel), propsOf(bPropsStr)))
      val varIdx = nodes.map(_.v).zipWithIndex.toMap
      val condsE: Either[String, Seq[Seq[(Int, Cond)]]] =
        Option(whereStr).map(_.trim).filter(_.nonEmpty) match {
          case None => Right(Seq.empty)
          case Some(w) =>
            def onePart(part: String,
                neg: Boolean): Either[String, (Int, Cond)] = part match {
              case NotCondRe(inner) => onePart(inner, !neg)
              case NullCondRe(v, prop, notKw) if varIdx.contains(v) =>
                Right(varIdx(v) -> Cond(prop,
                  if (notKw != null) "IS NOT NULL" else "IS NULL", "",
                  negated = neg))
              case ExistsFnRe(v, prop) if varIdx.contains(v) =>
                Right(varIdx(v) -> Cond(prop, "IS NOT NULL", "",
                  negated = neg))
              case CondRe(fnKw, v, prop, close, op, str, num, list)
                  if varIdx.contains(v) =>
                mkCondFn(fnKw, close, prop, op, str, num, list)
                  .map(c => varIdx(v) -> c.copy(negated = neg))
              // cross-variable comparison — the POINT of the dual pattern
              // ("pairs where a.name < b.name"); RHS node index rides
              // crossOnConn (true = the second variable)
              case CrossCondRe(v1, p1, op, v2, p2)
                  if varIdx.contains(v1) && varIdx.contains(v2) =>
                Right(varIdx(v1) -> Cond(p1,
                  op.toUpperCase(java.util.Locale.ROOT)
                    .replaceAll("\\s+", " "), "",
                  negated = neg, crossProp = Some(p2),
                  crossOnConn = varIdx(v2) == 1))
              case CondRe(_, v, _, _, _, _, _, _) =>
                Left(s"WHERE may only reference the matched variables " +
                  s"${nodes.map(_.v).mkString(", ")}, got '$v'")
              case other =>
                Left(s"unsupported WHERE condition: ${other.take(80)}")
            }
            parseBoolDnf(w).flatMap { groups =>
              val parsed = groups.map { parts =>
                val cs = parts.map { case (p, neg) => onePart(p, neg) }
                cs.collectFirst { case Left(e) => Left(e) }
                  .getOrElse(Right(cs.collect { case Right(c) => c }))
              }
              parsed.collectFirst { case Left(e) => Left(e) }
                .getOrElse(Right(parsed.collect { case Right(g) => g }))
            }
        }
      val itemsE: Either[String, Seq[(Int, String)]] = {
        val parsed = retStr.split(",").toSeq.map {
          case VarPropRe(v, p) if varIdx.contains(v) =>
            Right(varIdx(v) -> p)
          case other => Left("a multi-MATCH RETURN projects properties (" +
            nodes.map(_.v + ".<prop>").mkString(", ") + "), got '" +
            other.trim.take(40) + "'")
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(i) => i }))
      }
      for {
        _ <- if (nodes.map(_.v).distinct.size != 2)
          Left("MATCH variables must be distinct, got " +
            nodes.map(_.v).mkString(", "))
        else Right(())
        conds <- condsE
        items <- itemsE
        _ <- if (items.isEmpty) Left("RETURN needs at least one item")
        else Right(())
        // a duplicate projection would silently collapse into one output
        // column (the select dedups) — reject instead
        _ <- if (items.distinct.size != items.size)
          Left("the same item cannot be projected twice")
        else Right(())
        ob <- {
          def d(x: String) = x != null && x.equalsIgnoreCase("DESC")
          def one(part: String): Either[String, (Int, String, Boolean)] =
            part match {
              case ObPropItemRe(v, p, dir) if varIdx.contains(v) =>
                if (items.contains((varIdx(v), p)))
                  Right((varIdx(v), p, d(dir)))
                else Left(s"ORDER BY key '$v.$p' must be among the " +
                  "returned properties")
              case ObPropItemRe(v, _, _) =>
                Left(s"ORDER BY may only reference " +
                  s"${nodes.map(_.v).mkString(", ")}, got '$v'")
              case other =>
                Left(s"unsupported ORDER BY item: ${other.trim.take(40)}")
            }
          Option(obClause) match {
            case None => Right(Seq.empty[(Int, String, Boolean)])
            case Some(cl) =>
              val parsed = cl.split(",").toSeq.map(one)
              parsed.collectFirst { case Left(e) => Left(e) }
                .getOrElse(Right(parsed.collect { case Right(k) => k }))
          }
        }
        _ <- if (skipStr != null && ob.isEmpty)
          Left("SKIP requires ORDER BY")
        else Right(())
      } yield DualMatchReturn(nodes, conds, items, ob,
        Option(skipStr).map(_.toInt), Option(limitStr).map(_.toInt),
        distinctKw != null)
    case ShortestPathRe(spGroups @ _*) =>
      // 23 capture groups exceed Scala's fixed-arity pattern limit (22)
      // — bind the group Seq and index it (order = the regex's groups)
      val pathVar = spGroups(0); val spKind = spGroups(1)
      val aVar = spGroups(2); val aLabel = spGroups(3)
      val aPropsStr = spGroups(4); val spArrowL = spGroups(5)
      val relT = spGroups(6); val star = spGroups(7)
      val boundK = spGroups(8); val spArrowR = spGroups(9)
      val bVar = spGroups(10); val bLabel = spGroups(11)
      val bPropsStr = spGroups(12); val spQuantKw = spGroups(13)
      val spQuantVar = spGroups(14); val spQuantPRef = spGroups(15)
      val spQuantWhere = spGroups(16); val retStr = spGroups(17)
      val obVar = spGroups(18); val obProp = spGroups(19)
      val obLenVar = spGroups(20); val obDir = spGroups(21)
      val limitStr = spGroups(22)
      def propsOf(s: String): Map[String, String] =
        Option(s).toSeq.flatMap(x => PropRe.findAllMatchIn(x)
          .map(p => p.group(1) -> p.group(2))).toMap
      val bound =
        if (star == null) Some(1) // no range: single-hop paths (Cypher)
        else Option(boundK).map(_.toInt) // `*` alone: unbounded fixpoint
      val itemsE: Either[String, Seq[(String, String)]] = {
        val parsed = retStr.split(",").toSeq.map {
          case LengthRe(v) if v == pathVar => Right((pathVar, "length"))
          case LengthRe(v) => Left(s"length() may only take the path " +
            s"variable '$pathVar', got '$v'")
          case NodesFnRe(v) if v == pathVar => Right((pathVar, "nodes"))
          case NodesFnRe(v) => Left(s"nodes() may only take the path " +
            s"variable '$pathVar', got '$v'")
          case RelsFnRe(v) if v == pathVar =>
            Right((pathVar, "relationships"))
          case RelsFnRe(v) => Left("relationships() may only take the " +
            s"path variable '$pathVar', got '$v'")
          case VarPropRe(v, p) if v == aVar || v == bVar => Right((v, p))
          case other => Left("a shortestPath RETURN projects endpoint " +
            s"properties ($aVar.<prop>, $bVar.<prop>), " +
            s"length($pathVar), nodes($pathVar), or " +
            s"relationships($pathVar), got '${other.trim.take(40)}'")
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(i) => i }))
      }
      for {
        spDir <- dirOf(spArrowL, spArrowR)
        _ <- if ((Seq(pathVar, aVar, bVar) ++ Option(spQuantVar))
            .distinct.size != 3 + Option(spQuantVar).size)
          Left("shortestPath variables must be distinct, got " +
            (Seq(pathVar, aVar, bVar) ++ Option(spQuantVar))
              .mkString(", "))
        else Right(())
        _ <- Option(spQuantPRef).filter(_ != pathVar).map(pr =>
          Left(s"relationships() may only take the path variable " +
            s"'$pathVar', got '$pr'")).getOrElse(Right(()))
        spAllConds <- (Option(spQuantVar), Option(spQuantWhere)) match {
          case (Some(x), Some(w)) =>
            parseQuantConds(x, w, Option(spQuantKw).getOrElse("ALL"))
          case _ => Right(Seq.empty[Seq[Cond]])
        }
        items <- itemsE
        _ <- if (items.isEmpty) Left("RETURN needs at least one item")
        else Right(())
        // path reconstruction needs the bounded enumeration: the depth
        // kernels answer lengths, not paths, and an unbounded path bag
        // is not a serving answer (the PathQuant cap, same rule)
        _ <- if (items.exists(i => i._1 == pathVar && i._2 != "length")
            && !bound.exists(_ <= 8))
          Left("nodes(p)/relationships(p) require a bounded pattern " +
            "*1..K with K <= 8 — the unbounded (or deeper) shortest " +
            "path answers length(p) only")
        else Right(())
        desc = Option(obDir).exists(_.equalsIgnoreCase("DESC"))
        ob <- (Option(obVar), Option(obProp), Option(obLenVar)) match {
          case (None, _, None) => Right(None)
          case (Some(v), Some(p), _) if v == aVar || v == bVar =>
            if (items.contains((v, p))) Right(Some((v, p, desc)))
            else Left(s"ORDER BY key '$v.$p' must be among the returned " +
              "properties")
          case (Some(v), _, _) =>
            Left(s"ORDER BY may only reference '$aVar', '$bVar' or " +
              s"length($pathVar), got '$v'")
          case (None, _, Some(v)) if v == pathVar =>
            if (items.contains((pathVar, "length")))
              Right(Some((pathVar, "length", desc)))
            else Left(s"ORDER BY length($pathVar) requires " +
              s"length($pathVar) in RETURN")
          case (None, _, Some(v)) =>
            Left(s"length() may only take the path variable '$pathVar', " +
              s"got '$v'")
        }
      } yield ShortestPathReturn(pathVar, aVar, Option(aLabel),
        propsOf(aPropsStr), Option(relT), bound, bVar, Option(bLabel),
        propsOf(bPropsStr), items, ob, Option(limitStr).map(_.toInt),
        spAllConds,
        Option(spQuantKw).exists(_.equalsIgnoreCase("NONE")),
        allPaths = spKind.equalsIgnoreCase("allShortestPaths"),
        dir = spDir)
    // path-quantified ranged pattern: relationship predicates through
    // ALL(x IN relationships(p) WHERE …) and/or an along-the-path
    // reduce() sum (round-13 directive 4)
    case PathQuantRe(pathVar, aVar, aLabel, aPropsStr, arrowL, relVarS,
        relT, loS, hiS, arrowR, bVar, bLabel, bPropsStr, quantKw,
        allVar, allPRef, allWhere, retStr, obStr, obDirS, limitStr) =>
      dirOf(arrowL, arrowR).flatMap(dir =>
        parsePathQuant(pathVar, aVar, Option(aLabel), aPropsStr,
          Option(relVarS), Option(relT), loS.toInt, hiS.toInt, bVar,
          Option(bLabel), bPropsStr, Option(quantKw), Option(allVar),
          Option(allPRef), Option(allWhere), retStr, Option(obStr),
          Option(obDirS), Option(limitStr), dir))
    case ChainRe(chGroups @ _*) =>
      // 27 capture groups exceed the fixed-arity pattern limit (22)
      val Seq(v1, l1, p1) = chGroups.slice(0, 3)
      val Seq(aL1, rv1, r1, k1, m1, aR1) = chGroups.slice(3, 9)
      val Seq(v2, l2, p2) = chGroups.slice(9, 12)
      val Seq(aL2, rv2, r2, k2, m2, aR2) = chGroups.slice(12, 18)
      val Seq(v3, l3, p3) = chGroups.slice(18, 21)
      val Seq(whereStr, distinctKw, retStr, obClause, skipStr,
        limitStr) = chGroups.slice(21, 27)
      def propsOfS(s: String): Map[String, String] =
        Option(s).toSeq.flatMap(x => PropRe.findAllMatchIn(x)
          .map(p => p.group(1) -> p.group(2))).toMap
      val nodes = Seq((v1, l1, p1), (v2, l2, p2), (v3, l3, p3)).map {
        case (v, l, ps) => ChainNode(v, Option(l), propsOfS(ps))
      }
      val rels = Seq(
        (Option(r1), Option(k1).map(_.toInt).getOrElse(1)),
        (Option(r2), Option(k2).map(_.toInt).getOrElse(1)))
      for {
        d1 <- dirOf(aL1, aR1)
        d2 <- dirOf(aL2, aR2)
        stmt <- buildChainStmt(nodes, rels, whereStr, distinctKw,
          retStr, obClause, skipStr, limitStr,
          Seq(Option(rv1), Option(rv2)), Seq(Option(m1), Option(m2)),
          Seq(d1, d2))
      } yield stmt
    case WithRe(m, label, propsStr, optVar, relType, hopsStr, connVar,
        connLabel, connPropsStr, whereStr, withItems, havVar, havOp, havNum,
        wObClause, wLimitStr, postHavStr, distinctKw, retStr, retObClause,
        skipStr, retLimitStr) =>
      val conn = Option(connVar)
      val optional = optVar != null
      if (conn.isEmpty)
        Left("WITH requires a hop pattern binding a connected variable")
      else if (optional && optVar != m)
        Left(s"OPTIONAL MATCH must re-anchor the matched variable '$m', " +
          s"got '$optVar'")
      else {
        val props = Option(propsStr).toSeq
          .flatMap(s => PropRe.findAllMatchIn(s)
            .map(p => p.group(1) -> p.group(2))).toMap
        val hops = math.max(Option(hopsStr).map(_.toInt).getOrElse(0), 1)
        // WITH items: grouping keys then one or more aliased aggregates
        // (the regex enforces this shape — that is also what
        // disambiguates the WITH keyword from a STARTS WITH comparison).
        // `WITH m, count(c) AS n, sum(c.v) AS s` computes every aggregate
        // in ONE grouped pass — the same multi-aggregate path RETURN has.
        val relVar = parseRelVar(query, conn.isDefined)
        val relProps = parseRelProps(query, conn.isDefined)
        // inline relationship map → typed-bindings substrate, same rule
        // as the plain-MATCH form
        val relVarEff =
          if (relProps.nonEmpty) relVar.orElse(Some("__rel")) else relVar
        val wparts = withItems.split(",").toSeq
        // an item that LOOKS like an aggregate parses as one (Some);
        // grouping items answer None
        def parseAgg(part: String)
            : Option[Either[String, (RetItem, String)]] = part match {
          case WithCountRe(dk, "*", alias) => Some(
            if (dk != null) Left("count(DISTINCT *) is not supported")
            else Right((RetCount(distinct = false, star = true), alias)))
          case WithCountRe(dk, v, alias) if conn.contains(v) =>
            Some(Right((RetCount(dk != null), alias)))
          // count([DISTINCT] r): relationships traversed — DISTINCT is
          // honored over the edge identity (RetCountRel doc)
          case WithCountRe(dk, v, alias) if relVar.contains(v) =>
            Some(Right((RetCountRel(dk != null), alias)))
          case WithCountRe(_, v, _) =>
            Some(Left(s"WITH count() may only aggregate the connected " +
              s"variable '${conn.get}'" +
              relVar.fold("")(r => s", the relationship variable '$r',") +
              s" or *, got '$v'"))
          // count([DISTINCT] c.prop): property-VALUE counting
          case WithCountPropRe(dk, v, pr, alias) if conn.contains(v) =>
            Some(Right((RetCountProp(dk != null, pr, onConn = true),
              alias)))
          case WithCountPropRe(_, v, pr, _) =>
            Some(Left(s"WITH count() of a property may only reference " +
              s"'${conn.get}', got '$v.$pr'"))
          // sum/avg (numeric via try_cast) and min/max (string
          // collation) over the bindings' property values
          case WithAggPropRe(fn, v, pr, alias) if conn.contains(v) =>
            Some(Right((RetAggProp(
              fn.toLowerCase(java.util.Locale.ROOT), pr), alias)))
          // sum/avg/min/max(r.prop) AS alias — the edge-property
          // aggregate in the WITH pipeline ("total weight per root,
          // then HAVING"), same lenses as the RETURN-side form
          case WithAggPropRe(fn, v, pr, alias) if relVar.contains(v) =>
            Some(Right((RetAggRelProp(
              fn.toLowerCase(java.util.Locale.ROOT), pr), alias)))
          case WithAggPropRe(fn, v, pr, _) =>
            Some(Left(s"WITH $fn() may only aggregate the connected " +
              s"variable '${conn.get}'" +
              relVar.fold("")(r => s" or the relationship variable '$r'") +
              s", got '$v.$pr'"))
          // collect([DISTINCT] c.prop / r.prop) AS alias (r15) — the
          // same grouped serialization the RETURN-side collect builds
          case WithCollectRe(dk, v, pr, alias) if conn.contains(v) =>
            Some(Right((RetCollect(pr, dk != null), alias)))
          case WithCollectRe(dk, v, pr, alias) if relVar.contains(v) =>
            Some(Right((RetCollectRel(pr, dk != null), alias)))
          case WithCollectRe(_, v, pr, _) =>
            Some(Left(s"WITH collect() may only gather the connected " +
              s"variable '${conn.get}'" +
              relVar.fold("")(r => s" or the relationship variable '$r'") +
              s", got '$v.$pr'"))
          case _ => None
        }
        val tagged = wparts.map(p => (p, parseAgg(p)))
        val (groupTagged, aggTagged) = tagged.span(_._2.isEmpty)
        // every aggregate in WITH-clause order, each with its alias
        val aggsE: Either[String, Seq[(RetItem, String)]] =
          if (aggTagged.isEmpty)
            Left("the last WITH item must be an aliased aggregate, got " +
              s"'${wparts.last.trim.take(40)}'")
          else aggTagged.collectFirst {
            case (p, None) => Left("WITH grouping items must precede " +
              s"the aggregates, got '${p.trim.take(40)}' after one")
            case (_, Some(Left(e))) => Left(e)
          }.getOrElse {
            val as = aggTagged.collect { case (_, Some(Right(ia))) => ia }
            val dup = as.groupBy(_._2).collectFirst {
              case (a, g) if g.size > 1 => a }
            dup.fold[Either[String, Seq[(RetItem, String)]]](Right(as))(a =>
              Left(s"duplicate WITH aggregate alias '$a'"))
          }
        val keysE: Either[String, (Boolean, Seq[String])] = {
          val parsed = groupTagged.map(_._1).map {
            case VarRe(v) if v == m => Right(None)
            case VarPropRe(v, p) if v == m => Right(Some(p))
            case other => Left("unsupported WITH grouping item: " +
              s"'${other.trim.take(40)}' (use $m or $m.<prop>)")
          }
          parsed.collectFirst { case Left(e) => Left(e) }.getOrElse {
            val opts = parsed.collect { case Right(o) => o }
            Right((opts.contains(None), opts.flatten.distinct))
          }
        }
        for {
          dir <- parseDirection(query, conn.isDefined)
          _ <- if (relVar.isDefined && hopsStr != null)
            Left(s"a relationship variable ('${relVar.get}') cannot bind " +
              "a variable-length pattern — drop the range or the " +
              "variable, or quantify per-edge predicates with " +
              "MATCH p = (a)-[r:T*lo..hi]->(b) WHERE ALL(x IN " +
              "relationships(p) WHERE x.prop …)")
          else Right(())
          _ <- if (relProps.nonEmpty && hopsStr != null)
            Left("a variable-length pattern cannot carry a relationship " +
              "property map — match single hops (or chain them) instead")
          else Right(())
          aggs <- aggsE
          aliasMap = aggs.map { case (i, a) => a -> i }.toMap
          aliasList = aggs.map(_._2)
          kk <- keysE
          (groupIdentity, groupProps) = kk
          whereParsed <- parseWhereClause(m, conn, whereStr, relVar)
          conds <- whereParsed match {
            case (cs, None) => Right(cs)
            case (_, Some(_)) => Left("a pattern-existence WHERE cannot " +
              "be combined with WITH")
          }
          // the WHERE may precede the stage's ORDER BY/LIMIT (this
          // grammar's original spot) or follow them (openCypher's
          // subclause order) — one WHERE per stage, either position
          _ <- if (havVar != null && postHavStr != null)
            Left("one WHERE per WITH stage — before ORDER BY or after " +
              "LIMIT, not both")
          else Right(())
          hav <- Option(postHavStr) match {
            case None => Right(Option(havVar)
              .map(v => (v, havOp, havNum.toDouble)))
            case Some(PostHavRe(v2, op2, n2)) =>
              Right(Some((v2, op2, n2.toDouble)))
            case Some(other) => Left("unparseable WHERE after the WITH " +
              s"ORDER BY/LIMIT: '${other.trim.take(40)}'")
          }
          // openCypher applies WITH's ORDER BY/LIMIT BEFORE its WHERE, so
          // a post-LIMIT WHERE filters the limited rows; without a LIMIT
          // the two positions select the same rows, so the cheaper
          // aggregation-stage filter (HAVING) serves both
          havAfterLimit = postHavStr != null && wLimitStr != null
          _ <- hav match {
            case Some((v, _, _)) if !aliasMap.contains(v) =>
              Left(s"the WHERE after WITH may only filter an aggregate " +
                s"alias (${aliasList.mkString(", ")}), got '$v'")
            case _ => Right(())
          }
          // the WHERE after WITH compares numerically — meaningful for
          // count/sum/avg; a min/max alias keeps string collation, so a
          // numeric filter over it would silently compare garbage
          _ <- hav match {
            case Some((v, _, _)) if (aliasMap(v) match {
                case RetAggProp("min", _) | RetAggProp("max", _) |
                     RetAggRelProp("min", _) | RetAggRelProp("max", _) |
                     RetCollect(_, _) | RetCollectRel(_, _) =>
                  true
                case _ => false
              }) =>
              Left("the WHERE after WITH compares numerically — filter a " +
                "count/sum/avg alias, not min/max/collect")
            case _ => Right(())
          }
          // RETURN items; aggregate aliases resolve to their items, and
          // their RETURN-position order becomes the WithSpec alias order
          // (the executor zips aggregates with names positionally)
          itemsAndOrder <- {
            val parts = retStr.split(",").toSeq
            val parsed = parts.map {
              case VarRe(v) if aliasMap.contains(v) =>
                Right((aliasMap(v), Some(v)))
              case VarPropRe(v, p) if v == m => Right((RetProp(p), None))
              case VarRe(v) if v == m =>
                Left("RETURN of the whole matched node after WITH is not " +
                  s"supported — project $m.<prop> and the aliases " +
                  s"(${aliasList.mkString(", ")})")
              case other => Left("unsupported RETURN item after WITH: " +
                s"'${other.trim.take(40)}' (use $m.<prop> or one of " +
                s"${aliasList.mkString(", ")})")
            }
            parsed.collectFirst { case Left(e) => Left(e) }
              .getOrElse(Right(parsed.collect { case Right(i) => i }))
          }
          items = itemsAndOrder.map(_._1)
          retAliases = itemsAndOrder.flatMap(_._2)
          retProps = items.collect { case RetProp(p) => p }
          _ <- if (retAliases.sorted != aliasList.sorted)
            Left("RETURN after WITH must include every aggregate alias " +
              s"exactly once (${aliasList.mkString(", ")})")
          else Right(())
          _ <- if (retProps.isEmpty)
            Left("RETURN after WITH needs at least one grouping property " +
              s"($m.<prop>)")
          else Right(())
          // without identity grouping the projection must BE the grouping
          // — projecting fewer keys than were grouped on silently changes
          // row multiplicity, projecting more is not well-defined
          _ <- if (!groupIdentity && retProps.toSet != groupProps.toSet)
            Left("RETURN properties must match the WITH grouping " +
              s"properties (${groupProps.sorted.mkString(", ")})")
          else Right(())
          // the ordering may sit at the WITH stage or after RETURN —
          // equivalent here (RETURN projects grouped rows 1:1), but BOTH
          // at once would be ambiguous about which wins
          _ <- if (wObClause != null && retObClause != null)
            Left("ORDER BY may follow the WITH aggregates or the RETURN, " +
              "not both")
          else Right(())
          _ <- if (wLimitStr != null && retLimitStr != null)
            Left("LIMIT may follow the WITH aggregates or the RETURN, " +
              "not both")
          else Right(())
          obClause = if (wObClause != null) wObClause else retObClause
          limitStr = if (wLimitStr != null) wLimitStr else retLimitStr
          ob <- {
            // key list, most-significant first: m properties and/or any
            // aggregate alias (each sorts by its own output column)
            def one(part: String): Either[String, (String, Boolean)] = {
              def d(s: String) = s != null && s.equalsIgnoreCase("DESC")
              part match {
                case ObPropItemRe(v, p, dir) if v == m => Right((p, d(dir)))
                case ObPropItemRe(v, _, _) =>
                  Left(s"ORDER BY may only reference '$m' or an alias " +
                    s"(${aliasList.mkString(", ")}), got '$v'")
                case ObBareItemRe(b, dir) if aliasMap.contains(b) =>
                  Right((AggKeyPrefix + b, d(dir)))
                case ObBareItemRe(b, _) =>
                  Left(s"ORDER BY key '$b' is neither an $m property nor " +
                    s"an aggregate alias (${aliasList.mkString(", ")})")
                case other =>
                  Left(s"unsupported ORDER BY item: ${other.trim.take(40)}")
              }
            }
            Option(obClause) match {
              case None => Right(Seq.empty[(String, Boolean)])
              case Some(cl) =>
                val parsed = cl.split(",").toSeq.map(one)
                parsed.collectFirst { case Left(e) => Left(e) }
                  .getOrElse(Right(parsed.collect { case Right(k) => k }))
            }
          }
          _ <- if (skipStr != null && ob.isEmpty)
            Left("SKIP requires ORDER BY")
          else Right(())
          // a post-LIMIT WHERE sits BETWEEN the stage limit and a RETURN
          // SKIP in Cypher's evaluation order (limit → filter → skip) —
          // not expressible in the executor's offset-then-limit tail
          _ <- if (havAfterLimit && skipStr != null)
            Left("SKIP cannot combine with a WHERE after the WITH LIMIT " +
              "(Cypher would filter between them) — filter before the " +
              "LIMIT or drop SKIP")
          else Right(())
          skipN = Option(skipStr).map(_.toInt)
          // a WITH-stage LIMIT runs BEFORE a RETURN-stage SKIP in Cypher
          // (limit-then-skip → ranks S+1..L); the executor applies
          // offset-then-limit, so normalize to skip S, limit max(L−S, 0)
          // — exact under the shared ordering (grouped rows project 1:1)
          limitN = Option(limitStr).map(_.toInt).map(l =>
            if (wLimitStr != null && skipN.isDefined)
              math.max(l - skipN.get, 0)
            else l)
        } yield MatchReturn(Option(label), props, Option(relType), hops,
          relSugar(relProps, connSugar(connLabel, connPropsStr, conds)),
          items, ob,
          skipN, limitN,
          optional, distinctKw != null, None,
          Some(WithSpec(groupIdentity, retAliases, hav, havAfterLimit)),
          direction = dir, relVar = relVarEff)
      }
    case MatchRe(m, label, propsStr, optVar, relType, hopsStr, connVar,
        connLabel, connPropsStr, whereStr, distinctKw, retStr, obClause,
        skipStr, limitStr) =>
      val props = Option(propsStr).toSeq
        .flatMap(s => PropRe.findAllMatchIn(s)
          .map(p => p.group(1) -> p.group(2))).toMap
      val hops = Option(hopsStr).map(_.toInt).getOrElse(0)
      val conn = Option(connVar)
      val relVar = parseRelVar(query, conn.isDefined)
      val relProps = parseRelProps(query, conn.isDefined)
      // an inline relationship map forces the typed-bindings (per-edge)
      // substrate even without an explicit variable — the map is a
      // per-edge predicate, exactly what that substrate addresses
      val relVarEff =
        if (relProps.nonEmpty) relVar.orElse(Some("__rel")) else relVar
      val optional = optVar != null
      val retDistinct = distinctKw != null
      // a WHERE clause is EITHER a comparison DNF or a single pattern-
      // existence predicate — the existence form is checked first against
      // the whole clause (its parens/brackets would shred under the
      // AND/OR split)
      val whereE: Either[String, (Seq[Seq[Cond]], Option[ExistsPat])] =
        parseWhereClause(m, conn, whereStr, relVar)
      // one RETURN item (its trailing `AS alias`, if any, already stripped)
      def parseOne(part: String): Either[String, RetItem] = part match {
        case CountRe(dk, "*") =>
          // count(*) counts result ROWS: bindings under a hop pattern
          // (incl. the null row of an unmatched OPTIONAL root), matched
          // nodes per group without one
          if (dk != null) Left("count(DISTINCT *) is not supported")
          else Right(RetCount(distinct = false, star = true))
        case CountPropRe(dk, v, pr) if conn.contains(v) =>
          Right(RetCountProp(dk != null, pr, onConn = true))
        case CountPropRe(dk, v, pr) if v == m =>
          Right(RetCountProp(dk != null, pr, onConn = false))
        case CountPropRe(_, v, pr) => Left("count() of a property may " +
          s"only reference '$m'" + conn.fold("")(c => s" or '$c'") +
          s", got '$v.$pr'")
        case CountRe(dk, v) if conn.contains(v) => Right(RetCount(dk != null))
        // count([DISTINCT] r): relationships traversed — DISTINCT is
        // honored over the edge identity (RetCountRel doc)
        case CountRe(dk, v) if relVar.contains(v) =>
          Right(RetCountRel(dk != null))
        // count([DISTINCT] m): the global matched-variable count (the
        // "how many X" staple) — validated below to the all-aggregate form
        case CountRe(dk, v) if v == m => Right(RetCountRoot(dk != null))
        case CountRe(_, v) => Left(s"count() may only aggregate the " +
          s"matched variable '$m'" +
          conn.fold("")(c => s", the connected variable '$c'") +
          relVar.fold("")(r => s", the relationship variable '$r',") +
          s" or *, got '$v'")
        case TypeRe(v) if relVar.contains(v) => Right(RetRelType)
        case TypeRe(v) => Left("type() may only reference the bound " +
          "relationship variable" + relVar.fold("")(r => s" '$r'") +
          s", got '$v'")
        case CollectRe(dk, v, p) if conn.contains(v) =>
          Right(RetCollect(p, dk != null))
        // collect([DISTINCT] m.prop): the global matched-side list
        case CollectRe(dk, v, p) if v == m => Right(RetCollectRoot(p, dk != null))
        // collect([DISTINCT] r.prop): the edge-property list aggregate
        case CollectRe(dk, v, p) if relVar.contains(v) =>
          Right(RetCollectRel(p, dk != null))
        case CollectRe(_, v, p) => Left(s"collect() may only aggregate " +
          s"the matched variable '$m'" +
          conn.fold("")(c => s" or the connected variable '$c'") +
          s", got '$v.$p'")
        case CollectBareRe(v) => Left(s"collect($v) of a whole node is " +
          s"not supported — project a property: collect($v.name)")
        case AggRe(fn, v, p) if conn.contains(v) =>
          Right(RetAggProp(fn.toLowerCase(java.util.Locale.ROOT), p))
        // sum/avg/min/max(m.prop): the global matched-side aggregate
        case AggRe(fn, v, p) if v == m =>
          Right(RetAggRootProp(fn.toLowerCase(java.util.Locale.ROOT), p))
        // sum/avg/min/max(r.prop): edge-property aggregates over the
        // typed-bindings substrate ("total weight per grade")
        case AggRe(fn, v, p) if relVar.contains(v) =>
          Right(RetAggRelProp(fn.toLowerCase(java.util.Locale.ROOT), p))
        case AggRe(fn, v, p) => Left(s"$fn() may only aggregate the " +
          s"matched variable '$m'" +
          conn.fold("")(c => s" or the connected variable '$c'") +
          relVar.fold("")(r => s" or the relationship variable '$r'") +
          s", got '$v.$p'")
        case CoalesceRe(v, p, d) if conn.contains(v) =>
          Right(RetCoalesce(p, d))
        // coalesce over the MATCHED variable (r15): rides the scalar-fn
        // machinery (hop-less plain branch / root side under a hop),
        // with '' = absent so the default fires exactly where
        // keys(n)/properties(n) would omit the key
        case CoalesceRe(v, p, d) if v == m =>
          if (!SupportedProps(p))
            Left(s"unsupported property: $p (supported: " +
              SupportedProps.toSeq.sorted.mkString(", ") + ")")
          else Right(RetPropFn("coalesce", p, Seq(d)))
        // coalesce(r.prop, 'default') — the same OPTIONAL/missing-key
        // staple on the edge-property map (a missing key projects null
        // exactly like an unmatched binding)
        case CoalesceRe(v, p, d) if relVar.contains(v) =>
          Right(RetRelCoalesce(p, d))
        case CoalesceRe(v, p, _) => Left("coalesce() may only default " +
          "the connected variable's property" +
          conn.fold("")(c => s" ('$c.<prop>')") +
          relVar.fold("")(r => s" or the relationship variable's " +
            s"('$r.<prop>')") + s", got '$v.$p'")
        // the stored-endpoint projections (r14): startNode(r).prop /
        // endNode(r).prop answer the STORED source/destination node's
        // property — orientation-independent, the way Neo4j's endpoint
        // accessors behave on incoming and undirected matches
        case StartEndNodePropRe(fn, v, p) if relVar.contains(v) =>
          if (!ProjectableProps(p))
            Left(s"unsupported endpoint property: $p (supported: " +
              ProjectableProps.toSeq.sorted.mkString(", ") + ")")
          else Right(RetEndpoint(
            fn.toLowerCase(java.util.Locale.ROOT).startsWith("start"), p))
        case StartEndNodePropRe(fn, v, _) =>
          Left(s"$fn() may only inspect the bound relationship variable" +
            relVar.fold("")(r => s" '$r'") + s", got '$v'")
        // whole-node startNode(r)/endNode(r) (r15): serialize the stored
        // endpoint through the properties(n) sorted-key machinery —
        // see [[RetEndpointNode]]
        case StartEndNodeRe(fn, v) if relVar.contains(v) =>
          Right(RetEndpointNode(
            fn.toLowerCase(java.util.Locale.ROOT).startsWith("start")))
        case StartEndNodeRe(fn, _) =>
          Left(s"$fn() requires a bound single-hop relationship " +
            "variable (MATCH (m)-[r:T]->(c) RETURN " + fn + "(r))")
        case LabelsRe(v) if v == m => Right(RetLabels(onConn = false))
        case LabelsRe(v) if conn.contains(v) =>
          Right(RetLabels(onConn = true))
        case LabelsRe(v) => Left(s"labels() may only reference '$m'" +
          conn.fold("")(c => s" or '$c'") + s", got '$v'")
        case KeysFnRe(v) if relVar.contains(v) =>
          Right(RetRelAccessor("keys"))
        case PropsAccessorRe(v) if relVar.contains(v) =>
          Right(RetRelAccessor("properties"))
        // node-side keys()/properties() (r14): the matched variable
        // (hop-less OR under a hop — the accessor rides the root side,
        // so OPTIONAL unmatched roots still answer) or the connected
        // variable — see [[RetNodeAccessor]]
        case KeysFnRe(v) if v == m =>
          Right(RetNodeAccessor("keys", onConn = false))
        case KeysFnRe(v) if conn.contains(v) =>
          Right(RetNodeAccessor("keys", onConn = true))
        case PropsAccessorRe(v) if v == m =>
          Right(RetNodeAccessor("properties", onConn = false))
        case PropsAccessorRe(v) if conn.contains(v) =>
          Right(RetNodeAccessor("properties", onConn = true))
        case KeysFnRe(v) => Left("keys() may only inspect the matched " +
          s"variable '$m'" + conn.fold("")(c => s", the connected " +
            s"variable '$c'") + relVar.fold("")(r =>
            s", or the relationship variable '$r'") + s", got '$v'")
        case PropsAccessorRe(v) => Left("properties() may only inspect " +
          s"the matched variable '$m'" + conn.fold("")(c => s", the " +
            s"connected variable '$c'") + relVar.fold("")(r =>
            s", or the relationship variable '$r'") + s", got '$v'")
        case CaseRe(whenChain, elseStr) =>
          val ms = CaseWhenRe.findAllMatchIn(whenChain).toSeq
          def contiguous = ms.headOption.exists(_.start == 0) &&
            ms.sliding(2).forall {
              case Seq(a, b) => a.end == b.start
              case _ => true
            } && ms.lastOption.exists(_.end == whenChain.length)
          if (ms.isEmpty || !contiguous)
            Left("malformed CASE: expected WHEN <comparison> THEN " +
              s"'<value>' chain, got '${whenChain.take(60)}'")
          else {
            val parsedBranches = ms.map { w =>
              (w.group(1) match {
                case NullCondRe(v, prop, notKw) if v == m =>
                  Right(Cond(prop,
                    if (notKw != null) "IS NOT NULL" else "IS NULL", ""))
                case CondRe(fnKw, v, prop, close, op, str, num, list)
                    if v == m =>
                  mkCondFn(fnKw, close, prop, op, str, num, list)
                case CondRe(_, v, _, _, _, _, _, _) =>
                  Left("CASE WHEN may only test the matched variable " +
                    s"'$m', got '$v'")
                case other =>
                  Left("unsupported CASE WHEN comparison: " +
                    s"${other.take(60)}")
              }).map(_ -> w.group(2))
            }
            parsedBranches.collectFirst { case Left(e) => Left(e) }
              .getOrElse(Right(RetCase(
                parsedBranches.collect { case Right(b) => b },
                Option(elseStr))))
          }
        case ScalarFn1Re(fn, v, p) if v == m =>
          Right(RetPropFn(fn.toLowerCase(java.util.Locale.ROOT), p))
        case ScalarReplaceRe(v, p, from, to) if v == m =>
          Right(RetPropFn("replace", p, Seq(from, to)))
        case ScalarSubstringRe(v, p, start, len) if v == m =>
          Right(RetPropFn("substring", p,
            Seq(start) ++ Option(len).toSeq))
        case ScalarLeftRightRe(fn, v, p, n) if v == m =>
          Right(RetPropFn(fn.toLowerCase(java.util.Locale.ROOT), p, Seq(n)))
        // the connected-side scalar transforms (r14) — see [[RetConnFn]]
        case ScalarFn1Re(fn, v, p) if conn.contains(v) =>
          Right(RetConnFn(
            RetPropFn(fn.toLowerCase(java.util.Locale.ROOT), p)))
        case ScalarReplaceRe(v, p, from, to) if conn.contains(v) =>
          Right(RetConnFn(RetPropFn("replace", p, Seq(from, to))))
        case ScalarSubstringRe(v, p, start, len) if conn.contains(v) =>
          Right(RetConnFn(RetPropFn("substring", p,
            Seq(start) ++ Option(len).toSeq)))
        case ScalarLeftRightRe(fn, v, p, n) if conn.contains(v) =>
          Right(RetConnFn(RetPropFn(
            fn.toLowerCase(java.util.Locale.ROOT), p, Seq(n))))
        case ScalarFn1Re(fn, v, _) =>
          Left(s"$fn() in RETURN may only transform the matched " +
            s"variable '$m'" + conn.fold("")(c =>
            s" or the connected variable '$c'") + s", got '$v'")
        case ScalarReplaceRe(v, _, _, _) if v != m =>
          Left("replace() in RETURN may only transform the matched " +
            s"variable '$m'" + conn.fold("")(c =>
            s" or the connected variable '$c'") + s", got '$v'")
        case ScalarSubstringRe(v, _, _, _) if v != m =>
          Left("substring() in RETURN may only transform the matched " +
            s"variable '$m'" + conn.fold("")(c =>
            s" or the connected variable '$c'") + s", got '$v'")
        case ScalarLeftRightRe(fn, v, _, _) if v != m =>
          Left(s"$fn() in RETURN may only transform the matched " +
            s"variable '$m'" + conn.fold("")(c =>
            s" or the connected variable '$c'") + s", got '$v'")
        // (id(v) never reaches here — rewriteIdAccessor desugars it to
        // the dotted v.id before parsing, so it rides the normal
        // property paths in RETURN, WHERE, ORDER BY, and count())
        case VarPropRe(v, p) if v == m => Right(RetProp(p))
        case VarPropRe(v, p) if conn.contains(v) => Right(RetConnProp(p))
        // r.prop: the traversed edge's property — rides the same
        // typed-bindings substrate as type(r)
        case VarPropRe(v, p) if relVar.contains(v) => Right(RetRelProp(p))
        case VarPropRe(v, p) => Left(
          s"property projection may only reference '$m'" +
            conn.fold("")(c => s" or '$c'") +
            relVar.fold("")(r => s" or the relationship variable '$r'") +
            s", got '$v.$p'")
        case VarRe(v) if v == m => Right(RetVar)
        case VarRe(v) if conn.contains(v) => Right(RetConnected)
        case other => Left(s"unsupported RETURN item: ${other.take(40)}")
      }
      /** The canonical output column an item lands in before any alias
        * rename — the name the run-side branches produce. Whole-node items
        * expand to several columns, so they cannot be aliased (None).
        */
      def canonOf(i: RetItem): Option[String] = i match {
        case RetProp(p) => Some(s"m_$p")
        // fn items land in `<fn>_<prop>` (no m_ prefix — the column holds
        // a TRANSFORMED value, not the raw property)
        case RetPropFn(fn, p, _) => Some(s"${fn}_$p")
        case RetConnFn(f) => Some(s"${f.fn}_c_${f.prop}")
        // one CASE item per query (a second one would collide on the
        // canonical name and is rejected by the duplicate-canonical check)
        case RetCase(_, _) => Some("case_result")
        case RetConnProp(p) => Some(s"c_$p")
        case RetRelProp(p) => Some(s"r_$p")
        case RetCoalesce(p, _) => Some(s"c_$p")
        case RetCount(_, _) => Some("n_connected")
        case RetCountRel(_) => Some("n_connected")
        case RetCountRoot(_) => Some("n_matched")
        case RetCountProp(_, p, _) => Some(s"n_$p")
        case RetCollect(_, _) => Some("collected")
        case RetCollectRoot(_, _) => Some("collected")
        case RetAggProp(fn, p) => Some(s"${fn}_$p")
        case RetAggRelProp(fn, p) => Some(s"${fn}_$p")
        case RetCollectRel(_, _) => Some("collected")
        // m- and c-side property aggregates share the `<fn>_<prop>`
        // namespace; a query projecting both on the SAME (fn, prop) is
        // rejected by the duplicate-canonical check (alias one with AS)
        case RetAggRootProp(fn, p) => Some(s"${fn}_$p")
        case RetRelType => Some("r_type")
        case RetRelAccessor(fn) => Some(s"r_$fn")
        case RetNodeAccessor(fn, on) =>
          Some(if (on) s"c_$fn" else s"m_$fn")
        case RetEndpoint(st, p) =>
          Some(s"${if (st) "startnode" else "endnode"}_$p")
        case RetEndpointNode(st) =>
          Some(s"${if (st) "startnode" else "endnode"}_properties")
        case RetRelCoalesce(p, _) => Some(s"r_$p")
        case _ => None
      }
      val itemsE: Either[String,
          (Seq[RetItem], Seq[(RetItem, String)], Map[String, String])] = {
        // top-level commas only: coalesce(c.prop, 'x') carries its own
        val parts = splitTopLevel(retStr)
        val parsed = parts.map {
          case AsItemRe(body, alias) => parseOne(body).map(i => (i, Some(alias)))
          case p => parseOne(p).map(i => (i, None))
        }
        parsed.collectFirst { case Left(e) => Left(e) }.getOrElse {
          // labels(v) desugars HERE to the label-property projection under
          // its Cypher-named output column (`m_labels`/`c_labels`, or the
          // explicit AS alias) — execution never sees RetLabels, so every
          // downstream branch (grouping keys, DISTINCT, ORDER BY) treats
          // it exactly as the label column
          val pairs = parsed.collect { case Right(x) => x }.map {
            case (RetLabels(on), a) =>
              (if (on) RetConnProp("label") else RetProp("label"),
                a.orElse(Some(if (on) "c_labels" else "m_labels")))
            case x => x
          }
          val aliased = pairs.collect { case (i, Some(a)) => (i, a) }
          val dupAlias = aliased.map(_._2).diff(aliased.map(_._2).distinct)
          val isAggI = (i: RetItem) =>
            i.isInstanceOf[RetCount] || i.isInstanceOf[RetCountRel] ||
              i.isInstanceOf[RetCollect] ||
              i.isInstanceOf[RetAggProp] || i.isInstanceOf[RetCountRoot] ||
              i.isInstanceOf[RetAggRootProp] ||
              i.isInstanceOf[RetAggRelProp] ||
              i.isInstanceOf[RetCollectRel] ||
              i.isInstanceOf[RetCollectRoot]
          val global = pairs.nonEmpty && pairs.forall(p => isAggI(p._1))
          if (dupAlias.nonEmpty)
            Left(s"duplicate alias: ${dupAlias.distinct.mkString(", ")}")
          else if (global) {
            // GLOBAL form: canonical names assigned positionally with a
            // dedup suffix (count(c) and count(DISTINCT c) are different
            // aggregates on the same canonical column), so each item —
            // duplicate kinds included — renames independently under AS
            val names = globalCanonNames(pairs.map(_._1))
            val aliasMap = pairs.zip(names).collect {
              case ((_, Some(a)), n) => n -> a
            }.toMap
            Right((pairs.map(_._1), aliased, aliasMap))
          } else {
            val canons = aliased.map { case (i, _) => canonOf(i) }
            val plains = pairs.collect { case (i, None) => i }.flatMap(canonOf)
            val dupCanon = canons.flatten
              .diff(canons.flatten.distinct) ++
              canons.flatten.intersect(plains)
            if (canons.contains(None))
              Left("AS may only alias a property or aggregate item, not a " +
                "whole node — project properties instead")
            else if (dupCanon.nonEmpty)
              Left("the same item cannot be projected twice under " +
                s"different names (${dupCanon.distinct.mkString(", ")})")
            else Right((pairs.map(_._1), aliased,
              aliased.flatMap { case (i, a) => canonOf(i).map(_ -> a) }
                .toMap))
          }
        }
      }
      /** The ORDER BY clause as a key LIST, most-significant first: each
        * comma-separated item resolves to an m-property or a pseudo-key
        * exactly as the single-key form did, with its own direction.
        * Returns the resolved keys plus whether the clause used the
        * explicit count(…)/type(…) syntax (those forms demand the
        * matching RETURN item — an alias resolves by construction).
        */
      def orderByE(items: Seq[RetItem], aliased: Seq[(RetItem, String)]):
          Either[String, Seq[(String, Boolean)]] = {
        def one(part: String): Either[String, (String, Boolean)] = {
          def d(s: String) = s != null && s.equalsIgnoreCase("DESC")
          part match {
            case ObPropItemRe(v, p, dir) if v == m => Right((p, d(dir)))
            // ORDER BY c.prop: sort by a projected connected-node column
            // (encoded as the "c:" pseudo-key — a colon cannot collide
            // with a property name). The column must be projected, either
            // explicitly (RETURN …, c.prop) or via the whole connected
            // node, for the same LIMIT-stability reason as every key.
            case ObPropItemRe(v, p, dir) if conn.contains(v) =>
              val projected = items.contains(RetConnProp(p)) ||
                (items.contains(RetConnected) && ConnectedProps(p))
              if (!projected)
                Left(s"ORDER BY key '$v.$p' must be among the returned " +
                  "connected-node properties")
              else Right((ConnKeyPrefix + p, d(dir)))
            // ORDER BY r.prop: sort by a projected edge-property column
            // (the "r:" pseudo-key) — same projection demand as c.prop
            case ObPropItemRe(v, p, dir) if relVar.contains(v) =>
              if (!items.contains(RetRelProp(p)))
                Left(s"ORDER BY key '$v.$p' must be among the returned " +
                  "relationship properties")
              else Right((RelKeyPrefix + p, d(dir)))
            case ObPropItemRe(v, _, _) =>
              Left(s"ORDER BY may only reference '$m'" +
                conn.fold("")(c => s" or '$c'") +
                relVar.fold("")(r => s" or '$r'") + s", got '$v'")
            // ORDER BY <fn>(v.prop): sort by a scalar transform. A
            // matching PROJECTED fn item sorts by its canonical column;
            // otherwise the fn evaluates over the projected base column
            // at order time (fn:/fnc: pseudo-keys — the base property
            // must be projected, same LIMIT-stability rule as above)
            case ObFnItemRe(fn0, v, p, dir) if v == m =>
              val f = fn0.toLowerCase(java.util.Locale.ROOT)
              val projectedFn = items.exists {
                case RetPropFn(f2, p2, _) => f2 == f && p2 == p
                case _ => false
              }
              if (projectedFn) Right((AggKeyPrefix + s"${f}_$p", d(dir)))
              else Right((FnKeyPrefix + f + ":" + p, d(dir)))
            case ObFnItemRe(fn0, v, p, dir) if conn.contains(v) =>
              val f = fn0.toLowerCase(java.util.Locale.ROOT)
              val projectedFn = items.exists {
                case RetConnFn(RetPropFn(f2, p2, _)) => f2 == f && p2 == p
                case _ => false
              }
              val baseProjected = items.contains(RetConnProp(p)) ||
                (items.contains(RetConnected) && ConnectedProps(p))
              if (projectedFn)
                Right((AggKeyPrefix + s"${f}_c_$p", d(dir)))
              else if (baseProjected)
                Right((FnConnKeyPrefix + f + ":" + p, d(dir)))
              else Left(s"ORDER BY $fn0($v.$p) needs '$v.$p' (or the " +
                "function itself) among the returned connected-node " +
                "properties")
            case ObFnItemRe(fn0, v, p, _) =>
              Left(s"ORDER BY $fn0($v.$p) may only reference '$m'" +
                conn.fold("")(c => s" or '$c'") + s", got '$v'")
            // ORDER BY count(c)/count(*): sort groups by the aggregate
            // (top-k groups); demands a count item in RETURN
            case ObCountItemRe(v, dir) if conn.contains(v) || v == "*" =>
              if (!items.exists(i => i.isInstanceOf[RetCount] ||
                  i.isInstanceOf[RetCountRel]))
                Left("ORDER BY count() requires count(connected) in RETURN")
              else Right((CountKey, d(dir)))
            case ObCountItemRe(v, _) =>
              Left(s"ORDER BY count() may only aggregate the connected " +
                s"variable${conn.fold("")(c => s" '$c'")} or *, got '$v'")
            // ORDER BY type(r): sort by the relationship-type column —
            // must be projected (with LIMIT an unprojected sort key would
            // silently change WHICH rows come back)
            case ObTypeItemRe(v, dir) if relVar.contains(v) =>
              if (!items.contains(RetRelType))
                Left("ORDER BY type() requires type(" +
                  relVar.getOrElse("r") + ") in RETURN")
              else Right((RelTypeKey, d(dir)))
            case ObTypeItemRe(v, _) =>
              Left("ORDER BY type() may only reference the bound " +
                "relationship variable" + relVar.fold("")(r => s" '$r'") +
                s", got '$v'")
            // ORDER BY <alias>: resolve through the RETURN item it names —
            // an m-property alias sorts by that property, an aggregate
            // alias by the aggregate column
            case ObBareItemRe(b, dir) =>
              aliased.find(_._2 == b).map(_._1) match {
                case Some(RetProp(p)) => Right((p, d(dir)))
                // a scalar-fn/CASE alias sorts by the TRANSFORMED column
                // (projected before ordering), via the same canonical-
                // column pseudo-namespace the aggregates use
                case Some(i @ (_: RetPropFn | _: RetCase)) =>
                  Right((AggKeyPrefix + canonOf(i).getOrElse(""), d(dir)))
                case Some(i @ (_: RetCount | _: RetCountRel | _: RetCollect
                   | _: RetAggProp | _: RetAggRelProp | _: RetCollectRel
                   | _: RetCountProp)) =>
                  // each aggregate sorts by ITS canonical column (several
                  // may coexist), carried via the agg: pseudo-namespace
                  Right((AggKeyPrefix + canonOf(i).getOrElse(""), d(dir)))
                case Some(RetRelType) => Right((RelTypeKey, d(dir)))
                case Some(RetConnProp(p)) =>
                  Right((ConnKeyPrefix + p, d(dir)))
                case Some(RetRelProp(p)) =>
                  Right((RelKeyPrefix + p, d(dir)))
                // a keys(r)/properties(r) alias sorts by its serialized
                // column (canonical r_keys/r_properties — the same
                // binding-side pseudo-namespace as r.prop)
                case Some(RetRelAccessor(fn)) =>
                  Right((RelKeyPrefix + fn, d(dir)))
                // endpoint projections and node accessors sort by their
                // canonical output column through the generic canonical
                // (agg:) pseudo-namespace — ordered() strips the prefix
                // and finds the column among the projected ones
                case Some(i @ (_: RetEndpoint | _: RetEndpointNode |
                    _: RetNodeAccessor | _: RetConnFn)) =>
                  Right((AggKeyPrefix + canonOf(i).getOrElse(""), d(dir)))
                case Some(RetRelCoalesce(p, _)) =>
                  Right((RelKeyPrefix + p, d(dir)))
                case Some(_) => Left("ORDER BY on this alias kind is " +
                  s"not supported ('$b')")
                case None => Left(s"ORDER BY key '$b' is not an alias " +
                  "bound in RETURN")
              }
            case other =>
              Left(s"unsupported ORDER BY item: ${other.trim.take(40)}")
          }
        }
        Option(obClause) match {
          case None => Right(Seq.empty)
          case Some(clause) =>
            // parens hold no commas and ORDER BY admits no string
            // literals, so the comma split is safe
            val parsed = clause.split(",").toSeq.map(one)
            parsed.collectFirst { case Left(e) => Left(e) }
              .getOrElse(Right(parsed.collect { case Right(k) => k }))
        }
      }
      if (hops > 0 && conn.isEmpty)
        Left("hop pattern requires a connected variable")
      else if (optional && optVar != m)
        Left(s"OPTIONAL MATCH must re-anchor the matched variable '$m', " +
          s"got '$optVar'")
      else
        for {
          dir <- parseDirection(query, conn.isDefined)
          whereParsed <- whereE
          (conds, existsPat) = whereParsed
          parsedItems <- itemsE
          (items, aliasPairs, aliasMap) = parsedItems
          ob <- orderByE(items, aliasPairs)
          isAgg = (i: RetItem) =>
            i.isInstanceOf[RetCount] || i.isInstanceOf[RetCountRel] ||
              i.isInstanceOf[RetCollect] ||
              i.isInstanceOf[RetAggProp] || i.isInstanceOf[RetCountRoot] ||
              i.isInstanceOf[RetAggRootProp] ||
              i.isInstanceOf[RetAggRelProp] ||
              i.isInstanceOf[RetCollectRel] ||
              i.isInstanceOf[RetCollectRoot] ||
              i.isInstanceOf[RetCountProp]
          isRootAgg = (i: RetItem) => i match {
            case _: RetCountRoot | _: RetAggRootProp |
                 _: RetCollectRoot => true
            case RetCountProp(_, _, onConn) => !onConn
            case _ => false
          }
          // GLOBAL aggregate form: EVERY RETURN item is an aggregate, so
          // Cypher's grouping rule leaves no grouping keys and the answer
          // is one summary row ("how many X are there")
          isGlobal = items.nonEmpty && items.forall(isAgg)
          _ <- if (items.contains(RetConnected) && conn.isEmpty)
            Left("RETURN of the connected variable requires a hop pattern")
          else Right(())
          // scalar functions transform the projection BEFORE
          // DISTINCT/ORDER BY (Cypher's rule): hop-less in the plain
          // branch, under a hop pattern on the ROOT side (r14 — the
          // conn-side symmetry). Mixed with aggregates they become
          // transformed GROUPING KEYS — served (r17, battery b36) on
          // the hop-less count(*) form (`RETURN toLower(m.p) AS k,
          // count(*)` groups by the transformed value, Cypher's
          // group-by-the-projected-expression rule); every other
          // combination still rejects rather than silently grouping.
          // CASE stays hop-less (its WHEN machinery reads bare root
          // columns).
          fnGroupedCount = conn.isEmpty &&
            items.exists(_.isInstanceOf[RetPropFn]) &&
            items.exists(isAgg) &&
            items.forall {
              case RetCount(_, star) => star
              case _: RetPropFn | _: RetProp => true
              case _ => false
            }
          _ <- if (items.exists(i => i.isInstanceOf[RetPropFn] ||
              i.isInstanceOf[RetCase]) && items.exists(isAgg) &&
              !fnGroupedCount)
            Left("scalar functions / CASE in RETURN cannot combine " +
              "with aggregates" + (if (conn.isEmpty) " (except the " +
              "hop-less grouped form `fn(m.prop) [AS k], count(*)`)"
              else ""))
          else Right(())

          _ <- if (items.exists(i => i.isInstanceOf[RetCollect] ||
              i.isInstanceOf[RetAggProp] ||
              i.isInstanceOf[RetAggRelProp] ||
              i.isInstanceOf[RetCollectRel]) && conn.isEmpty)
            Left("collect()/sum()/avg()/min()/max() require a hop pattern")
          else Right(())
          // m-side aggregates are the hop-less global form; mixing them
          // with non-aggregate items would silently group (Cypher's rule),
          // which is a different query than the global one the user wrote
          _ <- if (items.exists(isRootAgg) && !isGlobal)
            Left(s"count($m)/sum($m.prop)/collect($m.prop) are global " +
              "aggregates — every RETURN item must then be an aggregate " +
              "(project properties to group instead)")
          else Right(())
          _ <- if (items.exists(i => i.isInstanceOf[RetAggRootProp] ||
              i.isInstanceOf[RetCollectRoot] ||
              (i match { case RetCountProp(_, _, false) => true
                case _ => false })) && conn.isDefined)
            Left("with a hop pattern, property aggregates apply to the " +
              s"connected variable ('${conn.get}.<prop>') — " +
              s"m-side sum/avg/min/max/collect are hop-less")
          else Right(())
          // a single global row admits no ordering or pagination offset
          _ <- if (isGlobal && ob.nonEmpty)
            Left("ORDER BY over a single global aggregate row — remove it")
          else Right(())
          _ <- if (conds.flatten.exists(_.onConn) && conn.isEmpty)
            Left("WHERE on the connected variable requires a hop pattern")
          else Right(())
          _ <- if (items.exists(isAgg) &&
              (items.contains(RetConnected)
              || items.exists(_.isInstanceOf[RetConnProp])))
            Left("an aggregate cannot be combined with returning the " +
              "connected variable or its properties")
          else Right(())
          _ <- if (items.contains(RetConnected) &&
              items.exists(_.isInstanceOf[RetConnProp]))
            Left("return either the connected variable or its properties, " +
              "not both")
          else Right(())
          // same whole-node-vs-projection rule for the MATCHED side: the
          // connected-property branch projects exactly the named columns,
          // so a bare `m` alongside `c.prop` has nowhere to go — reject it
          // rather than silently dropping the m item
          _ <- if (items.contains(RetVar) &&
              items.exists(_.isInstanceOf[RetConnProp]))
            Left("RETURN of the whole matched node cannot be combined with " +
              "connected-node properties — project m.prop explicitly")
          else Right(())
          // a relationship variable forces the single-hop form: on a
          // var-length pattern the variable binds a LIST of relationships
          // (Cypher), which type()/count() as implemented here would
          // silently misread — reject rather than guess
          _ <- if (relVar.isDefined && hopsStr != null)
            Left(s"a relationship variable ('${relVar.get}') cannot bind " +
              "a variable-length pattern — drop the range or the " +
              "variable, or quantify per-edge predicates with " +
              "MATCH p = (a)-[r:T*lo..hi]->(b) WHERE ALL(x IN " +
              "relationships(p) WHERE x.prop …)")
          else Right(())
          // a property map on a RANGED pattern would have to hold for
          // every edge of a var-length binding, which this substrate
          // cannot address per edge (same rule as the variable above:
          // Cypher itself rejects most r-talk on unaliased multi-hop
          // rels) — reject rather than silently filter one hop
          _ <- if (relProps.nonEmpty && hopsStr != null)
            Left("a variable-length pattern cannot carry a relationship " +
              "property map — match single hops (or chain them) instead")
          else Right(())
          // type(r) alongside the whole matched node has nowhere to go in
          // the m-only projection branch (mirror of the c.prop rule above);
          // alongside the whole connected node it rides the binding columns
          _ <- if ((items.contains(RetRelType) ||
              items.exists(_.isInstanceOf[RetRelProp]) ||
              items.exists(_.isInstanceOf[RetRelAccessor]) ||
              items.exists(_.isInstanceOf[RetEndpoint]) ||
              items.exists(_.isInstanceOf[RetEndpointNode]) ||
              items.exists(_.isInstanceOf[RetRelCoalesce])) &&
              items.contains(RetVar) && !items.contains(RetConnected))
            Left("RETURN of the whole matched node cannot be combined with " +
              "type() or r.prop — project m.prop explicitly")
          else Right(())
          // the node accessors are projection items over the node image —
          // pairing them with an aggregate would make them grouping keys
          // of a SERIALIZED map, a shape with no Cypher analogue; reject
          // by name rather than group on a derived string silently
          _ <- if (items.exists(i => i.isInstanceOf[RetNodeAccessor] ||
              i.isInstanceOf[RetEndpointNode]) && items.exists(isAgg))
            Left("keys()/properties()/startNode()/endNode() of a node " +
              "cannot combine with an aggregate in one RETURN — project " +
              "it in its own query")
          else Right(())
          // a transformed connected property as a grouping key is a
          // DIFFERENT query than the bare one — reject the mix rather
          // than silently grouping on either form
          _ <- if (items.exists(_.isInstanceOf[RetConnFn]) &&
              items.exists(isAgg))
            Left("a scalar function over the connected variable cannot " +
              "combine with an aggregate in one RETURN")
          else Right(())
          // coalesce(c.p, …) writes the default INTO the canonical c_p
          // column, which a co-present transform over the same property
          // would then read — Neo4j transforms the raw null instead.
          // Reject rather than silently transforming the default (the
          // same rule as the rel-side coalesce/aggregate collision).
          _ <- items.collectFirst {
            case RetCoalesce(p, _) if items.exists {
              case RetConnFn(f) => f.prop == p
              case _ => false
            } => p
          }.map(p => Left(s"coalesce(c.$p, …) cannot combine with a " +
            s"scalar function over c.$p in one RETURN — the default " +
            "would leak into the transform"))
            .getOrElse(Right(()))
          // coalesce(r.p, …) and an aggregate over the SAME r.p would
          // share the r_<p> column — the default would leak into the
          // aggregate's input. Reject rather than silently mis-aggregate.
          _ <- items.collectFirst {
            case RetRelCoalesce(p, _) if items.exists {
              case RetAggRelProp(_, q) => q == p
              case RetCollectRel(q, _) => q == p
              case _ => false
            } => p
          }.map(p => Left(s"coalesce(r.$p, …) cannot be combined with " +
            s"an aggregate over r.$p in one RETURN — they share the " +
            s"r_$p column and the default would leak into the aggregate"))
            .getOrElse(Right(()))
          // Cypher's grouping rule: every non-aggregate RETURN item is a
          // grouping key; with NO non-aggregate items the query is the
          // GLOBAL form (one summary row) — that's isGlobal, handled by
          // its own branch. A mix that groups only by type(r) or a
          // projected edge property stays valid.
          _ <- if (items.exists(isAgg) && !isGlobal && !items.exists(i =>
              i == RetVar || i.isInstanceOf[RetProp] || i == RetRelType ||
              i.isInstanceOf[RetRelProp] ||
              i.isInstanceOf[RetRelAccessor] ||
              i.isInstanceOf[RetEndpoint] ||
              i.isInstanceOf[RetRelCoalesce] ||
              // a scalar-fn item is a TRANSFORMED grouping key on the
              // hop-less count(*) form (r17) — fnGroupedCount gates it
              (fnGroupedCount && i.isInstanceOf[RetPropFn])))
            Left("an aggregate requires a grouping item (m, m.prop, " +
              "type(r), r.prop, or — hop-less — fn(m.prop))")
          else Right(())
          // hop-less count(*) groups matched nodes by projected property
          // values; grouping by the whole node would count 1 per node
          _ <- if (conn.isEmpty && items.exists(_.isInstanceOf[RetCount]) &&
              items.contains(RetVar))
            Left("hop-less count(*) groups by projected properties — " +
              "use m.prop, not the whole node")
          else Right(())
          // (the explicit ORDER BY count()/type() RETURN-item demands are
          // enforced per-key inside orderByE)
          // unordered pagination returns arbitrary rows — the plausible-
          // but-wrong class this front end refuses to serve
          _ <- if (skipStr != null && ob.isEmpty)
            Left("SKIP requires ORDER BY")
          else Right(())
        } yield {
          // `(c:Label)` and `(c {prop: 'v'})` sugar (the schema prompt's
          // typed patterns, `first-graph.py:63-136`)
          MatchReturn(Option(label), props, Option(relType),
            if (conn.isDefined) math.max(hops, 1) else 0,
            relSugar(relProps, connSugar(connLabel, connPropsStr, conds)),
            items, ob,
            Option(skipStr).map(_.toInt),
            Option(limitStr).map(_.toInt), optional, retDistinct, existsPat,
            aliases = aliasMap,
            direction = dir, relVar = relVarEff)
        }
    // a hop bracket carrying a property map that no statement form
    // accepted (a 2+-segment chain, or a shape error elsewhere): name
    // the restriction instead of the generic shape error
    case q if {
      val b = blankQuoted(q)
      RelBracketRe.findAllMatchIn(b)
        .exists(mm => b.substring(mm.start, mm.end).contains("{"))
    } =>
      Left("a relationship property map (-[r:T {…}]->) is supported on " +
        "single-hop MATCH patterns only — not on multi-segment chains " +
        "or variable-length patterns; match single hops and filter " +
        "with WHERE")
    case _ => Left(s"unsupported query shape: ${query.take(120)}")
  }

  // ---- N-step chains (≥3 relationship segments) ----
  // The two-step ChainRe regex cannot express a REPEATED group, so longer
  // chains — `(a)-[:R1]->(b)-[:R2]->(c)-[:R3]->(d)...`, what an LLM emits
  // for "W of X of Y of Z" over a deep containment hierarchy — are scanned
  // iteratively: one node pattern, then (relationship segment, node
  // pattern)*, then the same tail grammar (WHERE/RETURN/ORDER BY/SKIP/
  // LIMIT) the two-step form uses. Both roads land in [[buildChainStmt]],
  // so chain semantics cannot drift with length.
  private val NodePatPrefixRe =
    """(?s)\s*\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*([^}]*)\s*\})?\s*\)""".r
  private val RelPatPrefixRe =
    """(?s)\s*(<)?-\s*\[\s*(\w+)?\s*(?::\s*(\w+(?:\s*\|\s*\w+)*)\s*)?(?:\*\s*1\s*\.\.\s*(\d+)\s*)?(?:\{\s*([^}]*)\s*\}\s*)?\]\s*-\s*(>)?""".r
  private val MatchPrefixRe = """(?is)\s*MATCH\b""".r
  private val ChainTailRe =
    ("""(?is)\s*(?:WHERE\s+(.*?)\s*)?""" +
      """RETURN\s+(DISTINCT\s+)?(.+?)\s*""" +
      s"""(?:ORDER\\s+BY\\s+($ObItemFrag(?:\\s*,\\s*$ObItemFrag)*)\\s*)?""" +
      """(?:SKIP\s+(\d+)\s*)?""" +
      """(?:LIMIT\s+(\d+))?\s*;?\s*""").r
  /** Number of chained node-rel-node segments scanned structurally from
    * the MATCH prefix — the SAME scanner [[parseMultiChain]] runs, so
    * routing and parsing cannot disagree on what a segment is. Counting
    * the pattern prefix (instead of arrow tokens anywhere in the text,
    * the pre-r14 rule) makes undirected segments (`-[…]-`, no arrow)
    * count too, and keeps arrows inside a WHERE pattern-existence
    * predicate from inflating the count: the scan stops at the first
    * non-pattern text.
    */
  private def chainSegCount(q: String): Int =
    MatchPrefixRe.findPrefixMatchOf(q).fold(0) { mk =>
      NodePatPrefixRe.findPrefixMatchOf(q.substring(mk.end)).fold(0) {
        nm0 =>
          var pos = mk.end + nm0.end
          var n = 0
          var done = false
          while (!done) {
            RelPatPrefixRe.findPrefixMatchOf(q.substring(pos)) match {
              case None => done = true
              case Some(rm) =>
                NodePatPrefixRe.findPrefixMatchOf(
                    q.substring(pos + rm.end)) match {
                  case None => done = true
                  case Some(nm) =>
                    n += 1
                    pos = pos + rm.end + nm.end
                }
            }
          }
          n
      }
    }

  /** A query is routed to the N-step scanner when its (quote-blanked)
    * text opens with MATCH and chains ≥3 relationship segments — more
    * than any single-hop/two-step/existence form can produce.
    */
  private def looksMultiChain(q: String): Boolean = {
    val blanked = blankQuoted(q)
    chainSegCount(blanked) >= 3 &&
      !blanked.toLowerCase(java.util.Locale.ROOT).contains("shortestpath")
  }

  private def parseMultiChain(query: String): Either[String, Statement] = {
    def propsOf(s: String): Map[String, String] =
      Option(s).toSeq.flatMap(x => PropRe.findAllMatchIn(x)
        .map(p => p.group(1) -> p.group(2))).toMap
    val mk = MatchPrefixRe.findPrefixMatchOf(query).get // guarded by caller
    var pos = mk.end
    NodePatPrefixRe.findPrefixMatchOf(query.substring(pos)) match {
      case None =>
        Left("expected a node pattern after MATCH, got: '" +
          query.substring(pos).trim.take(40) + "'")
      case Some(nm0) =>
        val nodesB = Seq.newBuilder[ChainNode]
        val relsB = Seq.newBuilder[(Option[String], Int)]
        val relVarsB = Seq.newBuilder[Option[String]]
        val relMapsB = Seq.newBuilder[Option[String]]
        val relDirsB = Seq.newBuilder[String]
        nodesB += ChainNode(nm0.group(1), Option(nm0.group(2)),
          propsOf(nm0.group(3)))
        pos += nm0.end
        var err: Option[String] = None
        var done = false
        while (!done && err.isEmpty) {
          RelPatPrefixRe.findPrefixMatchOf(query.substring(pos)) match {
            case None => done = true
            case Some(rm) =>
              val relPos = pos + rm.end
              NodePatPrefixRe.findPrefixMatchOf(
                  query.substring(relPos)) match {
                case None =>
                  err = Some("expected a node pattern after the " +
                    "relationship segment, got: '" +
                    query.substring(relPos).trim.take(40) + "'")
                case Some(nm) =>
                  dirOf(rm.group(1), rm.group(6)) match {
                    case Left(e) => err = Some(e)
                    case Right(dir) =>
                      relsB += ((Option(rm.group(3)),
                        Option(rm.group(4)).map(_.toInt).getOrElse(1)))
                      relVarsB += Option(rm.group(2))
                      relMapsB += Option(rm.group(5))
                      relDirsB += dir
                      nodesB += ChainNode(nm.group(1),
                        Option(nm.group(2)), propsOf(nm.group(3)))
                      pos = relPos + nm.end
                  }
              }
          }
        }
        err.toLeft(()).flatMap { _ =>
          query.substring(pos) match {
            case ChainTailRe(whereStr, distinctKw, retStr, obClause,
                skipStr, limitStr) =>
              buildChainStmt(nodesB.result(), relsB.result(), whereStr,
                distinctKw, retStr, obClause, skipStr, limitStr,
                relVarsB.result(), relMapsB.result(), relDirsB.result())
            case rest =>
              Left("unsupported chain tail: '" + rest.trim.take(60) + "'")
          }
        }
    }
  }

  /** Shared builder for chain statements — the two-step regex form and the
    * N-step scanner both land here with the same capture shapes (nullable
    * strings mirroring the regex groups).
    */
  private def buildChainStmt(nodes: Seq[ChainNode],
      rels: Seq[(Option[String], Int)], whereStr: String,
      distinctKw: String, retStr: String, obClause: String,
      skipStr: String, limitStr: String,
      // per-segment relationship variables and RAW inline-map bodies
      // (r13): vars admit `WHERE r.prop …` conjunct atoms, maps desugar
      // to per-segment equality filters — both compile onto that
      // segment's edge scan. Raw map text is validated here with the
      // parseRelProps entry-count completeness check.
      relVars: Seq[Option[String]] = Seq.empty,
      relMapStrs: Seq[Option[String]] = Seq.empty,
      relDirs: Seq[String] = Seq.empty)
      : Either[String, Statement] = {
      val varIdx = nodes.map(_.v).zipWithIndex.toMap
      // rel-var atoms are encoded during WHERE parsing as node-count-
      // offset indices (idx = nodes.size + segment) and split back out
      // below — the node grammar is untouched
      val relIdx: Map[String, Int] = relVars.zipWithIndex
        .collect { case (Some(v), i) => v -> i }.toMap
      val condsE: Either[String, Seq[Seq[(Int, Cond)]]] =
        Option(whereStr).map(_.trim).filter(_.nonEmpty) match {
          case None => Right(Seq.empty)
          case Some(w) =>
            def onePart(part: String,
                neg: Boolean): Either[String, (Int, Cond)] = part match {
              case NotCondRe(inner) => onePart(inner, !neg)
              case NullCondRe(v, prop, notKw) if varIdx.contains(v) =>
                Right(varIdx(v) -> Cond(prop,
                  if (notKw != null) "IS NOT NULL" else "IS NULL", "",
                  negated = neg))
              case NullCondRe(v, prop, notKw) if relIdx.contains(v) =>
                Right((nodes.size + relIdx(v)) -> Cond(prop,
                  if (notKw != null) "IS NOT NULL" else "IS NULL", "",
                  negated = neg))
              // legacy exists(v.prop) ≡ v.prop IS NOT NULL
              case ExistsFnRe(v, prop) if varIdx.contains(v) =>
                Right(varIdx(v) -> Cond(prop, "IS NOT NULL", "",
                  negated = neg))
              case ExistsFnRe(v, prop) if relIdx.contains(v) =>
                Right((nodes.size + relIdx(v)) ->
                  Cond(prop, "IS NOT NULL", "", negated = neg))
              case CondRe(fnKw, v, prop, close, op, str, num, list)
                  if varIdx.contains(v) =>
                mkCondFn(fnKw, close, prop, op, str, num, list)
                  .map(c => varIdx(v) -> c.copy(negated = neg))
              // r.prop atoms ride the same Cond grammar, segment-offset
              // encoded; split out and pushed onto the edge scan below
              case CondRe(fnKw, v, prop, close, op, str, num, list)
                  if relIdx.contains(v) =>
                mkCondFn(fnKw, close, prop, op, str, num, list)
                  .map(c => (nodes.size + relIdx(v)) ->
                    c.copy(negated = neg))
              case CondRe(_, v, _, _, _, _, _, _) =>
                Left(s"WHERE may only reference the chain variables " +
                  s"${(nodes.map(_.v) ++ relVars.flatten).mkString(", ")}" +
                  s", got '$v'")
              case other =>
                Left(s"unsupported WHERE condition: ${other.take(80)}")
            }
            parseBoolDnf(w).flatMap { groups =>
              val parsed = groups.map { parts =>
                val cs = parts.map { case (p, neg) => onePart(p, neg) }
                cs.collectFirst { case Left(e) => Left(e) }
                  .getOrElse(Right(cs.collect { case Right(c) => c }))
              }
              parsed.collectFirst { case Left(e) => Left(e) }
                .getOrElse(Right(parsed.collect { case Right(g) => g }))
            }
        }
      // RETURN items: property projections plus at most one
      // count([DISTINCT] v) aggregate over the bindings
      val itemsE: Either[String,
          (Seq[(Int, String)], Seq[(Int, Boolean)])] = {
        val parsed = retStr.split(",").toSeq.map {
          case VarPropRe(v, p) if varIdx.contains(v) =>
            Right(Left(varIdx(v) -> p))
          case VarPropRe(v, p) if relIdx.contains(v) =>
            Left(s"a chain RETURN projects node properties — " +
              s"relationship properties are FILTER-only on chains " +
              s"(WHERE $v.$p …); to project them, match the hop " +
              s"singly (MATCH (a)-[$v:T]->(b) RETURN $v.$p)")
          case CountRe(dk, v) if varIdx.contains(v) =>
            Right(Right(varIdx(v) -> (dk != null)))
          case CountRe(_, v) => Left(s"count() may only aggregate a " +
            s"chain variable (${nodes.map(_.v).mkString(", ")}), got '$v'")
          case other => Left("a chain RETURN projects properties " +
            s"(${nodes.map(_.v + ".<prop>").mkString(", ")}) or " +
            s"count(<var>), got '${other.trim.take(40)}'")
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right((
            parsed.collect { case Right(Left(i)) => i },
            parsed.collect { case Right(Right(c)) => c })))
      }
      for {
        _ <- {
          val all = nodes.map(_.v) ++ relVars.flatten
          if (all.distinct.size != all.size)
            Left("chain variables must be distinct, got " +
              all.mkString(", "))
          else Right(())
        }
        // ranged chain segments cap at *1..8 — the same serving-layer
        // bound as the quantified path form (and the bound that keeps
        // the isomorphism expansion's per-path enumeration finite on
        // cyclic graphs)
        _ <- rels.collectFirst { case (_, k) if k > 8 => k }
          .map(k => Left(s"a ranged chain segment caps at *1..8 " +
            s"(got *1..$k) — an unbounded expansion is not a " +
            "serving-layer answer; use the analytics kernels for " +
            "deep reachability"))
          .getOrElse(Right(()))
        conds0 <- condsE
        // split the WHERE atoms back into node conditions and
        // per-segment relationship conditions (encoded node-count-
        // offset). A per-edge filter inside an OR cannot compile onto
        // one segment's scan — conjuncts only.
        _ <- if (conds0.size > 1 &&
            conds0.exists(_.exists(_._1 >= nodes.size)))
          Left("relationship-property conditions on a chain must be " +
            "top-level conjuncts (ANDed with the rest) — under OR a " +
            "per-edge filter cannot compile onto one segment's scan")
        else Right(())
        conds = conds0.map(_.filter(_._1 < nodes.size)).filter(_.nonEmpty)
        whereRelConds = rels.indices.map(i =>
          conds0.flatten.collect {
            case (j, c) if j == nodes.size + i => c
          })
        // inline maps: parse with the completeness check (an
        // unsupported value form is a named error, never a silent
        // drop); single-hop segments only, like every per-edge form
        relMaps <- rels.indices.foldLeft[Either[String,
            Seq[Map[String, String]]]](Right(Seq.empty)) { (acc, i) =>
          acc.flatMap { done =>
            relMapStrs.lift(i).flatten match {
              case None => Right(done :+ Map.empty[String, String])
              case Some(body) =>
                val entries = PropRe.findAllMatchIn(body).toSeq
                val keyTokens = """\w+\s*:""".r
                  .findAllMatchIn(blankQuoted(body)).size
                if (entries.size != keyTokens)
                  Left("unsupported value form in the relationship " +
                    "property map — values are 'quoted' literals " +
                    s"(got: {${body.trim.take(60)}})")
                else if (entries.map(_.group(1)).distinct.size !=
                    entries.size)
                  Left("duplicate key in the relationship property map")
                else Right(done :+
                  entries.map(e => e.group(1) -> e.group(2)).toMap)
            }
          }
        }
        _ <- rels.indices.collectFirst {
          case i if rels(i)._2 > 1 && (relVars.lift(i).flatten.isDefined
              || relMaps(i).nonEmpty || whereRelConds(i).nonEmpty) => i
        }.map(_ => Left("per-edge relationship talk (a variable, an " +
          "inline map, or r.prop conditions) is supported on " +
          "single-hop chain segments only — a var-length segment's " +
          "edges go through the quantified path form (MATCH p = … " +
          "WHERE ALL(x IN relationships(p) WHERE …))"))
          .getOrElse(Right(()))
        parsedItems <- itemsE
        (items, counts) = parsedItems
        _ <- if (counts.size > 1)
          Left("at most one count() per chain query")
        else Right(())
        _ <- if (items.isEmpty)
          Left(if (counts.nonEmpty)
            "a chain count() requires a grouping property"
          else "RETURN needs at least one item")
        else Right(())
        // ORDER BY: a key LIST, most-significant first — chain-variable
        // properties (each must be projected) and/or count(v) (index -1,
        // resolved to the count column in runChain)
        ob <- {
          def d(x: String) = x != null && x.equalsIgnoreCase("DESC")
          def one(part: String): Either[String, (Int, String, Boolean)] =
            part match {
              case ObPropItemRe(v, p, dir) if varIdx.contains(v) =>
                if (!items.contains((varIdx(v), p)))
                  Left(s"ORDER BY key '$v.$p' must be among the " +
                    "returned properties")
                else Right((varIdx(v), p, d(dir)))
              case ObPropItemRe(v, _, _) =>
                Left(s"ORDER BY may only reference the chain variables, " +
                  s"got '$v'")
              case ObCountItemRe(v, dir)
                  if counts.exists(c => c._1 == varIdx.getOrElse(v, -2)) =>
                Right((-1, "count", d(dir)))
              case ObCountItemRe(v, _) =>
                Left(s"ORDER BY count($v) requires count($v) in RETURN")
              case other =>
                Left(s"unsupported ORDER BY item: ${other.trim.take(40)}")
            }
          Option(obClause) match {
            case None => Right(Seq.empty[(Int, String, Boolean)])
            case Some(cl) =>
              val parsed = cl.split(",").toSeq.map(one)
              parsed.collectFirst { case Left(e) => Left(e) }
                .getOrElse(Right(parsed.collect { case Right(k) => k }))
          }
        }
        _ <- if (skipStr != null && ob.isEmpty)
          Left("SKIP requires ORDER BY")
        else Right(())
      } yield ChainReturn(nodes, rels, conds, items, ob,
        Option(skipStr).map(_.toInt), Option(limitStr).map(_.toInt),
        distinctKw != null, counts.headOption,
        relMaps = relMaps, relConds = whereRelConds, dirs = relDirs)
  }

  /** Canonical output columns for the GLOBAL aggregate form, in item
    * order: each item's canonical name, deduplicated positionally with a
    * `_2`/`_3` suffix when a later aggregate lands on an occupied name
    * (count(c) and count(DISTINCT c) are DIFFERENT aggregates sharing the
    * `n_connected` canonical — each needs its own column so `AS` can
    * rename them independently). Parse-time naming and the run-side
    * aggregate projection both call this, so they cannot drift.
    */
  private def globalCanonNames(items: Seq[RetItem]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    items.map { i =>
      val base = i match {
        case _: RetCount => "n_connected"
        case _: RetCountRel => "n_connected"
        case _: RetCountRoot => "n_matched"
        case RetCountProp(_, p, _) => s"n_$p"
        case _: RetCollect => "collected"
        case _: RetCollectRoot => "collected"
        case RetAggProp(fn, p) => s"${fn}_$p"
        case RetAggRelProp(fn, p) => s"${fn}_$p"
        case RetCollectRel(_, _) => "collected"
        case RetAggRootProp(fn, p) => s"${fn}_$p"
        case _ => "item" // unreachable: callers filtered to aggregates
      }
      val n = seen.getOrElse(base, 0) + 1
      seen(base) = n
      if (n == 1) base else s"${base}_$n"
    }
  }

  /** Reserved ORDER BY key meaning "sort by count(connected)" — cannot
    * collide with a property name (parens are not word characters).
    */
  private val CountKey = "count(connected)"

  /** Reserved ORDER BY key meaning "sort by type(r)" — same
    * parens-can't-collide trick as [[CountKey]].
    */
  private val RelTypeKey = "type(r)"
  // ORDER BY r.prop pseudo-key namespace ("r:<prop>") — a colon keeps it
  // collision-free with m-property names, as with [[ConnKeyPrefix]]
  private val RelKeyPrefix = "r:"

  /** ORDER BY key prefix marking a CONNECTED-node property (`c.prop`) —
    * a colon cannot appear in a property name, so the namespace cannot
    * collide with m-property keys.
    */
  private val ConnKeyPrefix = "c:"

  /** ORDER BY key prefix naming one AGGREGATE's canonical output column
    * directly (an alias of a specific aggregate when several coexist) —
    * a colon keeps the namespace collision-free, as with [[ConnKeyPrefix]].
    */
  private val AggKeyPrefix = "agg:"

  /** ORDER BY key prefix for an UNPROJECTED scalar-fn sort over an
    * m-property (`fn:<fn>:<base-prop>`): the fn evaluates over the
    * projected base column at order time (ordered() builds the
    * expression via scalarColOn). Colons keep both namespaces
    * collision-free with property names; "fnc:" (connected-side) cannot
    * prefix-collide with "fn:" — the third character differs.
    */
  private val FnKeyPrefix = "fn:"
  private val FnConnKeyPrefix = "fnc:"

  /** Node properties a MATCH pattern or WHERE clause may filter on. */
  private val SupportedProps = Set("name", "content", "docnbr")

  /** Properties a RETURN projection / ORDER BY may reference (filterable
    * props plus the label, which is not a filter — MATCH (m:Label) is).
    */
  // `id` joins the projectable set for the id() accessor (r15) —
  // and for the dotted `v.id` LLMs write meaning the same thing
  private val ProjectableProps = SupportedProps + "label" + "id"

  /** Properties of the CONNECTED variable a WHERE or RETURN may reference —
    * the node image the hop expansion carries (`c_label`/`c_name`/
    * `c_content`). A query narrows the connected node's type either as
    * Cypher's `(c:Label)` pattern sugar or as the equivalent
    * `c.label = '…'` comparison (the parser desugars the former into the
    * latter).
    */
  // `id` (r15): the expansion's binding image carries c_id, so the
  // id() accessor and the dotted c.id both project/filter it directly
  private val ConnectedProps = Set("name", "content", "label", "id")

  /** Ops meaningful over a numeric literal (the string predicates are not). */
  private val ComparisonOps = Set("=", "<>", "<", "<=", ">", ">=")

  /** Execute an N-step chain: one frontier expansion per hop step,
    * joined on each shared variable's identity, then one node-side join
    * per variable for exactly the properties the query touches. Each
    * intermediate variable's constraints gate BOTH the id-join and the
    * next expansion's frontier; the tail's constraints are a semi-join
    * against the filtered node relation.
    * Pure-single-variable WHERE conjuncts reference one side's columns
    * only, so Catalyst pushes them below the joins — no hand-scheduling.
    */
  private def runChain(g: GraphTables, ch: ChainReturn): DataFrame = {
    def pred(n: ChainNode): Column = nodePred(n.label, n.props)
    def relF(r: (Option[String], Int)): Column = relColOf(r._1)
    // step 0 expands from the HEAD pattern; each later step's frontier is
    // the set of nodes the previous step actually reached (∩ that node
    // pattern's constraints) — never every node matching the label. On a
    // selective head pattern this shrinks each traversal by orders of
    // magnitude, and the shape generalizes to any chain length: one
    // distributed expansion per step, joined on the shared variable's id.
    // A single-hop step (k = 1, the overwhelmingly common form) is ONE
    // equi-join against the typed edge relation — the var-length kernel's
    // per-step distinct + min-depth aggregate would be two extra shuffles
    // buying nothing at k = 1 (parallel relationships collapse via the
    // pair-dedup, same binding set as the kernel's (root, node) dedup).
    val n = ch.nodes.size
    def constrained(i: Int): Boolean =
      ch.nodes(i).label.isDefined || ch.nodes(i).props.nonEmpty
    // the segment's relationship filter: inline-map equalities + the
    // WHERE conjunct r.prop atoms, all on the edge scan (parse
    // guarantees they only exist for k = 1 segments)
    def relExtra(i: Int): Column = {
      val mapEq = ch.relMaps.lift(i).getOrElse(Map.empty).map {
        case (k, v) => element_at(col("props"), k) === v
      }
      val conds = ch.relConds.lift(i).getOrElse(Seq.empty)
        .map(c => condCol(c, element_at(col("props"), c.prop)))
      (mapEq ++ conds).reduceOption(_ && _).getOrElse(lit(true))
    }
    def dirOfSeg(i: Int): String = ch.dirs.lift(i).getOrElse("out")
    def isSingle(i: Int): Boolean = ch.rels(i)._2 == 1
    // Cypher's relationship isomorphism: one stored edge may bind at
    // most ONE segment of the pattern. Only segment pairs whose types
    // can overlap (same type / intersecting alternations / untyped)
    // can collide — for exactly those segments the scan carries the
    // stored edge identity (single-hop: one `eid` struct; ranged, r14:
    // the per-path `eids` array walked by the bounded expansion below)
    // and the pairwise disjointness filters post-join. Chains of
    // disjoint types (the common case) keep the lean id-pair shape,
    // byte-identical plans. Identity is the STORED (src, dst, relType)
    // triple, so an undirected segment seeing one relationship from
    // either side still collides with itself elsewhere in the chain.
    // A side effect on colliding-type chains: bindings are per EDGE
    // COMBINATION of the single-hop segments (parallel relationships
    // stay distinct bindings — Cypher's bag semantics), while ranged
    // segments keep path-existence semantics (a binding survives iff
    // SOME witness path avoids the bound edges; the per-path rows are
    // collapsed after the filter).
    def typeSet(t: Option[String]): Option[Set[String]] =
      t.map(_.split("\\|").map(_.trim).toSet)
    def overlap(a: Option[String], b: Option[String]): Boolean =
      (typeSet(a), typeSet(b)) match {
        case (Some(x), Some(y)) => (x & y).nonEmpty
        case _ => true
      }
    val collidingPairs = for {
      i <- ch.rels.indices; j <- ch.rels.indices
      if i < j && overlap(ch.rels(i)._1, ch.rels(j)._1)
    } yield (i, j)
    val eidSegs: Set[Int] =
      collidingPairs.flatMap { case (i, j) => Seq(i, j) }.toSet
    // one segment's oriented (from, to) pairs: "in" swaps the scan's
    // columns, "both" (undirected, r14) unions both orientations —
    // projections over the same scan, no extra shuffle
    def edgePairs(i: Int): DataFrame = {
      val base = g.edges.filter(relF(ch.rels(i)) && relExtra(i)).toDF()
        .withColumn(s"eid$i",
          struct(col("src"), col("dst"), col("relType")))
      def pairs(s0: Column, d0: Column) =
        base.select(Seq(s0.as(s"id$i"), d0.as(s"id${i + 1}")) ++
          (if (eidSegs(i)) Seq(col(s"eid$i")) else Seq.empty): _*)
      val sel = dirOfSeg(i) match {
        case "in" => pairs(col("dst"), col("src"))
        case "both" => pairs(col("src"), col("dst"))
          .unionByName(pairs(col("dst"), col("src")))
        case _ => pairs(col("src"), col("dst"))
      }
      if (eidSegs(i))
        sel.dropDuplicates(s"id$i", s"id${i + 1}", s"eid$i")
      else sel.dropDuplicates(s"id$i", s"id${i + 1}")
    }
    // bounded per-path expansion of a ranged segment carrying the
    // walked edge SET (r14) — used ONLY when the segment's types
    // overlap another segment's (relationship isomorphism needs edge
    // identities across segments; disjoint-type ranged segments keep
    // the min-depth kernel). A [[GraphOps.trails]] enumeration from the
    // incoming frontier (never the whole graph): its visited probe is
    // Cypher's var-length rule, and also what kills the frontier after
    // one loop on a cycle. No per-step dedup or array canonicalization:
    // the overlap filters are order-blind and the binding collapse after
    // them dedups once — extra per-step shuffles bought nothing
    // (measured 4× on the chain_ranged twin). Parse caps the range at 8,
    // so the enumeration is finite even on cycles.
    def rangedEidPairs(i: Int, frontier: DataFrame): DataFrame = {
      val start = frontier.select(col(s"id$i")).distinct()
        .select(col(s"id$i"), col(s"id$i").as("cur"),
          noEdgesWalked.as("visited"))
      val edges = orientedEdges(g, dirOfSeg(i)).filter(relF(ch.rels(i)))
        .select(col("src"), col("dst"), col("eid"))
      GraphOps.trails(start, edges, 1, ch.rels(i)._2)
        .select(col(s"id$i"), col("cur").as(s"id${i + 1}"),
          col("visited").as(s"eids$i"))
    }
    // which colliding segments pair with ranged segment i
    val partnersOf: Map[Int, Seq[Int]] = ch.rels.indices.map(i =>
      i -> collidingPairs.collect {
        case (a, b) if a == i => b
        case (a, b) if b == i => a
      }).toMap
    // the UNAVOIDABLE-SET collapse (r14): when a ranged segment's ONLY
    // colliding partner is one single-hop segment, "some witness path
    // avoids the bound edge e" ⟺ "e is not in the INTERSECTION of the
    // witness paths' edge sets" — so the per-path relation folds to one
    // row per (from, to) pair carrying that intersection, and the chain
    // join returns to pair-sized inputs (the per-path bag never reaches
    // the join). Exact only for a single excluded edge; two-plus
    // colliding partners need one path avoiding ALL bound edges at
    // once, which the per-path form handles.
    def rangedUnavoidable(i: Int): Boolean =
      !CypherLite.disableUnavoidableCollapse.value &&
        !isSingle(i) && partnersOf(i).sizeIs == 1 &&
        isSingle(partnersOf(i).head)
    def rangedUnavPairs(i: Int, frontier: DataFrame): DataFrame =
      rangedEidPairs(i, frontier)
        .groupBy(s"id$i", s"id${i + 1}")
        .agg(collect_list(col(s"eids$i")).as("__pp"))
        .select(col(s"id$i"), col(s"id${i + 1}"),
          aggregate(
            expr("slice(__pp, 2, size(__pp) - 1)"),
            element_at(col("__pp"), 1),
            (acc, x) => array_intersect(acc, x)).as(s"unav$i"))
    def rangedPairs(i: Int, frontier: DataFrame): DataFrame =
      if (rangedUnavoidable(i)) rangedUnavPairs(i, frontier)
      else rangedEidPairs(i, frontier)
    var acc = {
      val heads =
        g.nodes.filter(pred(ch.nodes(0))).select(col("id").as("id0"))
      if (isSingle(0)) heads.join(edgePairs(0), "id0")
      else if (eidSegs(0)) heads.join(rangedPairs(0, heads), "id0")
      else GraphOps.neighborhoodWhereKeyed(
          orientedTables(g, dirOfSeg(0)), pred(ch.nodes(0)),
          ch.rels(0)._2, relF(ch.rels(0)))
        .select(col("root_id").as("id0"), col("c_id").as("id1"))
    }
    for (i <- 1 until n - 1) {
      // the node-set semi-join only runs when the pattern actually
      // constrains the variable (the graph maintains referential
      // integrity, so an unconstrained semi-join would be a no-op shuffle)
      if (constrained(i)) {
        val ok = g.nodes.filter(pred(ch.nodes(i)))
          .select(col("id").as(s"id$i"))
        acc = acc.join(ok, Seq(s"id$i"), "left_semi")
      }
      if (isSingle(i)) acc = acc.join(edgePairs(i), s"id$i")
      else if (eidSegs(i))
        acc = acc.join(rangedPairs(i, acc.select(s"id$i")), s"id$i")
      else {
        val seeds = acc.select(col(s"id$i").as("root_id"),
          col(s"id$i").as("node_id")).distinct()
        val exp = GraphOps.bfs(orientedTables(g, dirOfSeg(i)),
            seeds, Some(ch.rels(i)._2), relF(ch.rels(i)))
          .filter(col("depth") > 0)
          .select(col("root_id").as(s"id$i"),
            col("node_id").as(s"id${i + 1}"))
        acc = acc.join(exp, s"id$i")
      }
    }
    val triples0 =
      if (constrained(n - 1)) {
        val tailOk = g.nodes.filter(pred(ch.nodes(n - 1)))
          .select(col("id").as(s"id${n - 1}"))
        acc.join(tailOk, Seq(s"id${n - 1}"), "left_semi")
      } else acc
    // the relationship-isomorphism filter (see eidSegs above): single ×
    // single compares identities, single × ranged probes the path's
    // edge set, ranged × ranged demands disjoint sets — then the
    // identity columns drop before projection, collapsing ranged
    // per-path multiplicity back to the chain's binding semantics
    // (single-hop identities stay in the dedup key: parallel edges
    // remain distinct bindings)
    def rangedProbe(ranged: Int, single: Int): Column =
      if (rangedUnavoidable(ranged))
        !array_contains(col(s"unav$ranged"), col(s"eid$single"))
      else !array_contains(col(s"eids$ranged"), col(s"eid$single"))
    val uniq = collidingPairs.map { case (i, j) =>
      (isSingle(i), isSingle(j)) match {
        case (true, true) => col(s"eid$i") =!= col(s"eid$j")
        case (true, false) => rangedProbe(j, i)
        case (false, true) => rangedProbe(i, j)
        // two colliding ranged segments are never in unavoidable mode
        // (each has a non-single partner) — both carry per-path sets
        case (false, false) =>
          !arrays_overlap(col(s"eids$i"), col(s"eids$j"))
      }
    }.reduceOption(_ && _)
    val filtered0 = uniq.fold(triples0)(triples0.filter)
    val rangedEidCols = eidSegs.toSeq
      .filter(i => !isSingle(i) && !rangedUnavoidable(i))
      .map(i => s"eids$i")
    val unavCols =
      eidSegs.toSeq.filter(rangedUnavoidable).map(i => s"unav$i")
    // per-path ranged segments need the multiplicity collapse after the
    // filter; the unavoidable-mode pairs relation is already one row
    // per binding — its helper column just drops
    val dedupedPaths =
      if (rangedEidCols.isEmpty) filtered0.drop(unavCols: _*)
      else filtered0.drop(rangedEidCols ++ unavCols: _*).dropDuplicates()
    val triples = dedupedPaths.drop(
      eidSegs.toSeq.filter(isSingle).map(i => s"eid$i"): _*)
    // node-side columns per variable: exactly what RETURN/WHERE/ORDER BY
    // touch, named <var>_<prop>
    def neededProps(i: Int): Seq[String] =
      (ch.items.collect { case (j, p) if j == i => p } ++
        ch.conds.flatten.collect { case (j, cd) if j == i => cd.prop } ++
        ch.orderBy.toSeq.collect { case (j, p, _) if j == i => p }).distinct
    val joined = ch.nodes.indices.foldLeft(triples) { (df, i) =>
      val props = neededProps(i)
      if (props.isEmpty) df
      else df.join(g.nodes.select(col("id").as(s"id$i") +:
        props.map(p => col(p).as(s"${ch.nodes(i).v}_$p")): _*), s"id$i")
    }
    val filt = ch.conds.map(_.map { case (i, cd) =>
        condCol(cd, col(s"${ch.nodes(i).v}_${cd.prop}"))
      }.reduceOption(_ && _).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(true))
    val out = ch.items.map { case (i, p) => s"${ch.nodes(i).v}_$p" }.distinct
    val filtered = joined.filter(filt)
    val deduped = ch.countVar match {
      case Some((ci, dk)) =>
        // count([DISTINCT] v) grouped by the projected properties
        // (Cypher's grouping rule); bindings are distinct triples, so a
        // plain count tallies bindings and DISTINCT tallies distinct
        // nodes of the counted variable per group
        val cc = if (dk) countDistinct(col(s"id$ci"))
          else count(col(s"id$ci"))
        filtered.groupBy(out.map(col): _*)
          .agg(cc.as(s"n_${ch.nodes(ci).v}"))
      case None =>
        val projected = filtered.select(out.map(col): _*)
        if (ch.distinct) projected.distinct() else projected
    }
    val ordered =
      if (ch.orderBy.isEmpty) deduped.orderBy(out.map(col): _*)
      else {
        def nameOf(k: (Int, String, Boolean)): String =
          if (k._1 < 0) s"n_${ch.nodes(ch.countVar.get._1).v}"
          else s"${ch.nodes(k._1).v}_${k._2}"
        val names = ch.orderBy.map(nameOf)
        val keys = ch.orderBy.map { k =>
          if (k._3) col(nameOf(k)).desc else col(nameOf(k)).asc
        }
        deduped.orderBy(
          keys ++ out.filterNot(names.contains).map(col): _*)
      }
    val skipped = ch.skip.map(ordered.offset).getOrElse(ordered)
    ch.limit.map(skipped.limit).getOrElse(skipped)
  }

  /** Execute a WRITE statement (SET / CREATE / DETACH DELETE), returning
    * BOTH the mutated graph and the summary relation [[run]] would
    * answer. The graph relations are immutable datasets, so the input
    * graph is untouched — callers persist the returned [[GraphTables]]
    * (e.g. via GraphStore.save) to make the write durable.
    */
  def runWrite(g: GraphTables,
      query: String): Either[String, (GraphTables, DataFrame)] =
    runWrite(g, query, Map.empty)

  /** [[runWrite]] with Cypher parameters — the reference's driver shape
    * (`new_final.js:23-38` passes `{name: $name, …}` maps per call).
    */
  def runWrite(g: GraphTables, query: String,
      params: Map[String, String])
      : Either[String, (GraphTables, DataFrame)] =
    parse(query, params).flatMap {
      case s @ (_: SetContent | _: CreateNode | _: MergeEdges |
          _: MergeNodeOnSet | _: MergeEdgesOnSet | _: SetRelProps |
          _: DeleteRels | _: RemoveRelProps | _: DetachDeleteNodes) =>
        execWrite(g, s)
      case tkw: TopKWrite =>
        // phase 1 is a READ (the ordered-limited id set, ≤ k ≤
        // TopKMaxK); phase 2 re-parses as the id-conjunct write and
        // runs through the ordinary write kernels
        runSingle(g, tkw.stage1Query).flatMap { df1 =>
          val idCol = Seq("m_id", "id").find(df1.columns.contains)
            .getOrElse(df1.columns.last)
          val ids = df1.select(col(idCol).cast("long")).collect()
            .map(_.getLong(0)).toSeq.distinct
          if (ids.isEmpty)
            // an empty selection writes nothing — answer the
            // unchanged graph with an empty summary
            Right((g, g.nodes.toDF().limit(0)
              .select(col("label").as("m_label"),
                col("name").as("m_name"),
                col("content").as("m_content"))))
          else runWrite(g, tkw.rebuilt(ids), params)
        }
      case DetachDelete(tag) =>
        val after = GraphOps.dropBatch(g, tag)
        Right((after, after.nodes.groupBy("batch")
          .agg(count(lit(1)).as("n_nodes")).orderBy("batch").toDF()))
      case _ => Left("not a write statement — use run() for reads")
    }

  // one edge-MERGE clause as DATA for [[runScript]]'s set-oriented
  // resolution: absent match keys are None (= match any). Not private:
  // the codegen'd encoder serializer calls the field accessors from
  // generated Java, which a private modifier blocks (falling back to the
  // per-row interpreted projection).
  final case class EdgeClauseRow(
      srcIsA: Boolean, relType: String, batchTag: String,
      aLabel: String, aBatch: Option[String], aName: Option[String],
      aContent: Option[String], aDocnbr: Option[String],
      bLabel: String, bBatch: Option[String], bName: Option[String],
      bContent: Option[String], bDocnbr: Option[String],
      props: Map[String, String])

  /** Batched write script — the Spark-first collapse of the reference's
    * one-transaction-per-statement ingest loop (`new_final.js:15-47`
    * runs a node MERGE, then an edge MERGE, per XML tag). Executing N
    * statements as N sequential [[runWrite]] calls would build an
    * N-deep plan and N shuffles; here the STATEMENTS BECOME ROWS and the
    * whole script runs in two phases:
    *
    *  1. every node MERGE/CREATE → one deterministic-id [[NodeRow]]
    *     batch → ONE upsert;
    *  2. every edge-MERGE clause → one [[EdgeClauseRow]] relation,
    *     joined twice against the node table (label equi-key + residual
    *     null-or-equal on batch/name/content/docnbr — the tiny statement
    *     side broadcasts) → ONE edge upsert.
    *
    * Job count is O(1) in script length, and the node table is scanned a
    * constant number of times however many statements arrive.
    *
    * Two-phase evaluation is equivalent to the sequential loop whenever
    * each edge MERGE's endpoints were merged earlier in the same script
    * or already exist — the reference's own invariant (a parent tag is
    * always merged before its child edges). A script that merges an edge
    * BEFORE its endpoint node would sequentially match nothing; here the
    * edge sees the phase-1 node. Only MERGE/CREATE statements are
    * accepted (SET / DETACH DELETE have read-your-writes orderings a
    * two-phase plan cannot honor — run those through [[runWrite]]).
    *
    * Returns the final graph and its (entity, n) census — nodes by
    * label ∪ edges by relType.
    */
  def runScript(g: GraphTables,
      stmts: Seq[(String, Map[String, String])])
      : Either[String, (GraphTables, DataFrame)] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val parsed = stmts.zipWithIndex.map { case ((q, p), i) =>
      parse(q, p).left.map(e => s"statement ${i + 1}: $e").flatMap {
        case s: CreateNode => Right(s)
        case s: MergeEdges => Right(s)
        case _ => Left(s"statement ${i + 1}: only plain MERGE/CREATE " +
          "statements run in a script — SET / DELETE / " +
          "MERGE … ON CREATE/ON MATCH SET need runWrite's sequential " +
          "read-your-writes semantics")
      }
    }
    parsed.collectFirst { case Left(e) => Left(e) }.getOrElse {
      val ok = parsed.collect { case Right(s) => s }
      val nodeRows = ok.collect { case CreateNode(label, props, batch) =>
        val name = props("name")
        val content = props.getOrElse("content", "")
        val docnbr = props.getOrElse("docnbr", "")
        NodeRow(GraphModel.nodeId(label, name, content, docnbr), label,
          name, content, docnbr, batch.getOrElse("cypher"), Seq.empty)
      }
      val clauseRows = ok.collect { case MergeEdges(a, b, clauses) =>
        val batchTag = a.batch.orElse(b.batch).getOrElse("cypher")
        clauses.map { c =>
          EdgeClauseRow(c.srcVar == a.v, c.relType, batchTag,
            a.label, a.batch, a.props.get("name"), a.props.get("content"),
            a.props.get("docnbr"),
            b.label, b.batch, b.props.get("name"), b.props.get("content"),
            b.props.get("docnbr"), c.props)
        }
      }.flatten
      val withNodes =
        if (nodeRows.isEmpty) g
        else {
          val up = GraphOps.upsert(g, GraphTables(
            nodeRows.toDS().dropDuplicates("id"),
            spark.emptyDataset[EdgeRow]))
          // phase 2 + the census consume the phase-1 node relation three
          // times (both side resolutions and the final graph); a LAZY
          // local checkpoint materializes the upsert's anti-join once
          // instead of re-shuffling the base per consumer
          if (clauseRows.isEmpty) up
          else GraphTables(up.nodes.localCheckpoint(false), up.edges)
        }
      val after =
        if (clauseRows.isEmpty) withNodes
        else {
          def sideCond(prefix: String) =
            col("label") === col(s"${prefix}Label") &&
              (col(s"${prefix}Batch").isNull ||
                col("batch") === col(s"${prefix}Batch")) &&
              (col(s"${prefix}Name").isNull ||
                col("name") === col(s"${prefix}Name")) &&
              (col(s"${prefix}Content").isNull ||
                col("content") === col(s"${prefix}Content")) &&
              (col(s"${prefix}Docnbr").isNull ||
                col("docnbr") === col(s"${prefix}Docnbr"))
          val nodeCols = withNodes.nodes.toDF()
            .select("id", "label", "name", "content", "docnbr", "batch")
          def resolved(prefix: String) = {
            val idAlias = s"${prefix}_id"
            nodeCols.withColumnRenamed("id", idAlias)
          }
          val stmtDs = clauseRows.toDS()
          val withA = stmtDs.join(resolved("a"), sideCond("a"), "inner")
            .drop("label", "name", "content", "docnbr", "batch")
          val withB = withA.join(resolved("b"), sideCond("b"), "inner")
          val incoming = withB.select(
              when(col("srcIsA"), col("a_id")).otherwise(col("b_id"))
                .as("src"),
              when(col("srcIsA"), col("b_id")).otherwise(col("a_id"))
                .as("dst"),
              col("relType"), lit("").as("docnbr"),
              col("batchTag").as("batch"),
              col("props"))
            .dropDuplicates("src", "dst", "relType")
            .as[EdgeRow]
          GraphOps.upsert(withNodes,
            GraphTables(spark.emptyDataset[NodeRow], incoming))
        }
      val summary = after.nodes.toDF().groupBy("label")
        .agg(count(lit(1)).as("n"))
        .select(concat(lit("node:"), col("label")).as("entity"), col("n"))
        .unionByName(after.edges.toDF().groupBy("relType")
          .agg(count(lit(1)).as("n"))
          .select(concat(lit("edge:"), col("relType")).as("entity"),
            col("n")))
        .orderBy("entity")
      Right((after, summary))
    }
  }

  private def execWrite(g: GraphTables,
      stmt: Statement): Either[String, (GraphTables, DataFrame)] =
    stmt match {
      case SetContent(label, props, conds, value, batch, setProp) =>
        // `id` is FILTERABLE here exactly as on the read path (r16 —
        // the lookup-by-id-then-update staple `MATCH (m) WHERE
        // id(m) = … SET m.name = …`); it is never WRITABLE (setProp is
        // validated against SupportedProps at parse time)
        (props.keys ++
          conds.flatten.map(_.prop).filterNot(_ == "id") ++
          conds.flatten.flatMap(_.crossProp)).find(!SupportedProps(_))
          .map(k => Left(s"unsupported property: $k " +
            s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})"))
          .getOrElse {
            // cross-variable conds (m.p1 <op> m.p2) compare column-to-
            // column — the rhs argument must be threaded or the
            // comparison would silently fall back to the empty literal
            val whereCol = conds
              .map(_.map(c => condCol(c, col(c.prop),
                  c.crossProp.map(col)))
                .reduceOption(_ && _).getOrElse(lit(true)))
              .reduceOption(_ || _).getOrElse(lit(true))
            val pred = (label.map(col("label") === _).toSeq ++
              batch.map(col("batch") === _).toSeq ++
              props.map { case (k, v) => col(k) === v })
              .reduceOption(_ && _).getOrElse(lit(true)) && whereCol
            val targets = g.nodes.filter(pred).select(col("id"))
            val after = GraphOps.updateNodeProp(g,
              targets.select(col("id"), lit(value).as("new_value")),
              setProp)
            // summary: the updated nodes as the reference's SET result set
            val summary = after.nodes.toDF()
              .join(targets, Seq("id"), "left_semi")
              .select(col("label").as("m_label"), col("name").as("m_name"),
                col("content").as("m_content"))
              .orderBy("m_label", "m_name", "m_content")
            Right((after, summary))
          }
      case DetachDeleteNodes(label, batch, props, conds) =>
        // same matching machinery as SET: label/batch/inline-map
        // predicates + the WHERE DNF, id filterable (never writable)
        (props.keys ++
          conds.flatten.map(_.prop).filterNot(_ == "id") ++
          conds.flatten.flatMap(_.crossProp)).find(!SupportedProps(_))
          .map(k => Left(s"unsupported property: $k " +
            s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})"))
          .getOrElse {
            val whereCol = conds
              .map(_.map(c => condCol(c, col(c.prop),
                  c.crossProp.map(col)))
                .reduceOption(_ && _).getOrElse(lit(true)))
              .reduceOption(_ || _).getOrElse(lit(true))
            val pred = (label.map(col("label") === _).toSeq ++
              batch.map(col("batch") === _).toSeq ++
              props.map { case (k, v) => col(k) === v })
              .reduceOption(_ && _).getOrElse(lit(true)) && whereCol
            val targets = g.nodes.filter(pred).select(col("id"))
            // incident edges, each counted once: src-incident, plus
            // dst-incident rows whose src was NOT a target (disjoint
            // by construction — no dedup over multi-edges needed)
            val tSrc = targets.withColumnRenamed("id", "src")
            val tDst = targets.withColumnRenamed("id", "dst")
            val e = g.edges.toDF()
            val incident = e.join(tSrc, Seq("src"), "left_semi")
              .unionByName(e.join(tSrc, Seq("src"), "left_anti")
                .join(tDst, Seq("dst"), "left_semi"))
            val after = GraphOps.deleteNodes(g, targets)
            val summary = targets.agg(
                count(lit(1)).as("deleted_nodes"))
              .crossJoin(incident.agg(
                count(lit(1)).as("deleted_edges")))
            Right((after, summary))
          }
      case CreateNode(label, props, batch) =>
        val spark = g.nodes.sparkSession
        import spark.implicits._
        val name = props("name") // presence validated at parse time
        val content = props.getOrElse("content", "")
        val docnbr = props.getOrElse("docnbr", "")
        val id = GraphModel.nodeId(label, name, content, docnbr)
        val incoming = GraphTables(
          Seq(NodeRow(id, label, name, content, docnbr,
            batch.getOrElse("cypher"), Seq.empty)).toDS(),
          spark.emptyDataset[EdgeRow])
        // match-or-create: the anti-join drops the row when the identical
        // node already exists — re-running the CREATE is a no-op
        val after = GraphOps.upsert(g, incoming)
        val summary = after.nodes.toDF().filter(col("id") === id)
          .select(col("label").as("m_label"), col("name").as("m_name"),
            col("content").as("m_content"))
          .orderBy("m_label", "m_name", "m_content")
        Right((after, summary))
      case MergeNodeOnSet(CreateNode(label, props, batch),
          onCreate, onMatch) =>
        val spark = g.nodes.sparkSession
        import spark.implicits._
        val name = props("name") // presence validated at parse time
        val content = props.getOrElse("content", "")
        val docnbr = props.getOrElse("docnbr", "")
        val id = GraphModel.nodeId(label, name, content, docnbr)
        val incoming = GraphTables(
          Seq(NodeRow(id, label, name, content, docnbr,
            batch.getOrElse("cypher"), Seq.empty)).toDS(),
          spark.emptyDataset[EdgeRow])
        // which branch happened is decided SET-wise against the
        // pre-merge image — anti-join = created, semi-join = matched —
        // never a driver-side existence probe; the branch's assignment
        // map applies per property through the A18 join-update kernel
        // (r15: any user property, comma lists per clause)
        val mergedId = incoming.nodes.toDF().select("id")
        val preIds = g.nodes.toDF().select("id")
        def branchIds(created: Boolean) = mergedId.join(preIds,
          Seq("id"), if (created) "left_anti" else "left_semi")
        val updates: Seq[(String, DataFrame)] =
          onCreate.toSeq.flatMap(m => m.toSeq.map { case (p, v) =>
            (p, branchIds(created = true)
              .select(col("id"), lit(v).as("new_value"))) }) ++
            onMatch.toSeq.flatMap(m => m.toSeq.map { case (p, v) =>
              (p, branchIds(created = false)
                .select(col("id"), lit(v).as("new_value"))) })
        val merged = GraphOps.upsert(g, incoming)
        val after = updates.foldLeft(merged) { case (acc, (p, u)) =>
          GraphOps.updateNodeProp(acc, u, p) }
        val summary = after.nodes.toDF().filter(col("id") === id)
          .select(col("label").as("m_label"), col("name").as("m_name"),
            col("content").as("m_content"))
          .orderBy("m_label", "m_name", "m_content")
        Right((after, summary))
      case MergeEdges(a, b, clauses) =>
        val spark = g.nodes.sparkSession
        import spark.implicits._
        // each side: label (+ optional batch tag + property literals)
        // filter down to ids only — the cross product is over the MATCHED
        // sets (typically a handful of rows after a name match), and only
        // ids flow into it
        def side(p: MergePat, alias: String) = {
          val pred = (Seq(col("label") === p.label) ++
            p.batch.map(col("batch") === _) ++
            p.props.map { case (k, v) => col(k) === v })
            .reduce(_ && _)
          g.nodes.filter(pred).select(col("id").as(alias))
        }
        val pairs = side(a, "ida").crossJoin(side(b, "idb"))
        // edges inherit the batch tag of the matched pattern (the
        // reference tags every entity of an ingest run with its unique
        // label); untagged statements fall back to the generic batch
        val batchTag = a.batch.orElse(b.batch).getOrElse("cypher")
        val incomingEdges = clauses.map { c =>
          pairs.select(
            col(if (c.srcVar == a.v) "ida" else "idb").as("src"),
            col(if (c.dstVar == a.v) "ida" else "idb").as("dst"),
            lit(c.relType).as("relType"), lit("").as("docnbr"),
            lit(batchTag).as("batch"),
            typedLit(c.props).as("props"))
        }.reduce(_ unionByName _).as[EdgeRow]
        // ONE upsert for every clause: the anti-join on (src, dst,
        // relType) is what makes re-running the statement a no-op
        val after = GraphOps.upsert(g,
          GraphTables(spark.emptyDataset[NodeRow], incomingEdges))
        val rels = clauses.map(_.relType).distinct
        val summary = after.edges.toDF()
          .filter(col("relType").isin(rels: _*))
          .groupBy("relType").agg(count(lit(1)).as("n_edges"))
          .orderBy("relType")
        Right((after, summary))
      case MergeEdgesOnSet(a, b, c, _, onCreate, onMatch) =>
        val spark = g.nodes.sparkSession
        import spark.implicits._
        def side(p: MergePat, alias: String) = {
          val pred = (Seq(col("label") === p.label) ++
            p.batch.map(col("batch") === _) ++
            p.props.map { case (k, v) => col(k) === v })
            .reduce(_ && _)
          g.nodes.filter(pred).select(col("id").as(alias))
        }
        val pairs = side(a, "ida").crossJoin(side(b, "idb"))
        val batchTag = a.batch.orElse(b.batch).getOrElse("cypher")
        // the ON CREATE assignments ride the created edges' inline map
        // (all parse-time literals); ON MATCH becomes a join-update
        // against the pre-merge edge image — which branch happened is
        // decided SET-wise (anti-join = created, semi-join = matched),
        // the same discipline as the node-side MergeNodeOnSet
        val createProps = c.props ++ onCreate
        val incoming = pairs.select(
          col(if (c.srcVar == a.v) "ida" else "idb").as("src"),
          col(if (c.dstVar == a.v) "ida" else "idb").as("dst"),
          lit(c.relType).as("relType"), lit("").as("docnbr"),
          lit(batchTag).as("batch"),
          typedLit(createProps).as("props")).as[EdgeRow]
        val merged = GraphOps.upsert(g,
          GraphTables(spark.emptyDataset[NodeRow], incoming))
        val after =
          if (onMatch.isEmpty) merged
          else {
            val key = Seq("src", "dst", "relType")
            val preEdges = g.edges.toDF().select(key.map(col): _*)
            val matchedUpd = incoming.toDF().select(key.map(col): _*)
              .join(preEdges, key, "left_semi")
              .select(col("src"), col("dst"), col("relType"),
                typedLit(onMatch).as("new_props"))
            GraphOps.updateEdgeProps(merged, matchedUpd)
          }
        val setKeys = (onCreate.keys ++ onMatch.keys).toSeq
          .distinct.sorted
        val summary = after.edges.toDF()
          .filter(col("relType") === c.relType)
          .select(col("relType") +: setKeys.map(k =>
            element_at(col("props"), k).as(s"r_$k")): _*)
          .groupBy(("relType" +: setKeys.map(k => s"r_$k")).map(col): _*)
          .agg(count(lit(1)).as("n_edges"))
          .orderBy(("relType" +: setKeys.map(k => s"r_$k")).map(col): _*)
        Right((after, summary))
      case SetRelProps(pat, conds, assigns, replace) =>
        val matched = matchedEdgeKeys(g, pat, conds)
        val after = if (replace) {
          // `SET r = {…}`: the whole props map is REPLACED on matched
          // edges (same join-update shape as the merge path — one
          // shuffle on the edge key — but overwrite, not map_concat)
          val key = Seq("src", "dst", "relType")
          val edges = g.edges
            .join(matched.withColumn("hit", lit(true)), key, "left_outer")
            .withColumn("props",
              when(col("hit").isNotNull,
                typedLit(assigns)).otherwise(col("props")))
            .drop("hit")
            .as(g.edges.encoder)
          GraphTables(g.nodes, edges)
        } else {
          val updates = matched.select(col("src"), col("dst"),
            col("relType"), typedLit(assigns).as("new_props"))
          GraphOps.updateEdgeProps(g, updates)
        }
        val summary = matched
          .groupBy("relType").agg(count(lit(1)).as("n_updated"))
          .orderBy("relType")
        Right((after, summary))
      case RemoveRelProps(pat, conds, ps) =>
        val matched = matchedEdgeKeys(g, pat, conds)
          .withColumn("removed", lit(true))
        val key = Seq("src", "dst", "relType")
        val edges = g.edges.join(matched, key, "left_outer")
          .withColumn("props",
            when(col("removed").isNotNull,
              map_filter(col("props"),
                (k, _) => !k.isin(ps.map(x => x: Any): _*)))
              .otherwise(col("props")))
          .drop("removed")
          .as(g.edges.encoder)
        val after = GraphTables(g.nodes, edges)
        val summary = matched
          .groupBy("relType").agg(count(lit(1)).as("n_updated"))
          .orderBy("relType")
        Right((after, summary))
      case DeleteRels(pat, conds) =>
        val matched = matchedEdgeKeys(g, pat, conds)
        val after = GraphTables(g.nodes,
          g.edges.join(matched, Seq("src", "dst", "relType"), "left_anti")
            .as(g.edges.encoder))
        val summary = matched
          .groupBy("relType").agg(count(lit(1)).as("n_deleted"))
          .orderBy("relType")
        Right((after, summary))
      case other => Left(s"not a write statement: $other")
    }

  /** The (src, dst, relType) keys an [[EdgePat]] (+ per-edge DNF)
    * matches: the edge scan filters on type + r.prop conds (sargable,
    * scan-side), then two semi-joins restrict the endpoints to the
    * label/property-matched node sets — never a collect.
    */
  private def matchedEdgeKeys(g: GraphTables, pat: EdgePat,
      conds: Seq[Seq[Cond]]): DataFrame = {
    val aIds = g.nodes.filter(nodePred(pat.aLabel, pat.aProps))
      .select(col("id").as("src"))
    val bIds = g.nodes.filter(nodePred(pat.bLabel, pat.bProps))
      .select(col("id").as("dst"))
    g.edges.toDF().filter(col("relType") === pat.relType &&
        relDnf(conds).getOrElse(lit(true)))
      .select("src", "dst", "relType")
      .join(aIds, Seq("src"), "left_semi")
      .join(bIds, Seq("dst"), "left_semi")
  }

  /** Execute a dual-MATCH query: filter each node pattern's set down to
    * exactly the columns the query touches, cross-join, and apply the
    * WHERE DNF. Catalyst pushes a cross-variable equality into the join
    * condition (one shuffled equi-join); anything else runs as a
    * broadcast nested-loop over the label-filtered sides — Cypher's
    * cartesian semantics, never a driver-side loop.
    */
  private def runDualMatch(g: GraphTables,
      dm: DualMatchReturn): DataFrame = {
    def pred(n: ChainNode): Column = nodePred(n.label, n.props)
    def neededProps(i: Int): Seq[String] =
      (dm.items.collect { case (j, p) if j == i => p } ++
        dm.conds.flatten.collect { case (j, c) if j == i => c.prop } ++
        dm.conds.flatten.collect {
          case (_, c) if c.crossProp.isDefined &&
            (if (c.crossOnConn) 1 else 0) == i => c.crossProp.get
        } ++
        dm.orderBy.toSeq.collect { case (j, p, _) if j == i => p }).distinct
    val sides = dm.nodes.zipWithIndex.map { case (nd, i) =>
      g.nodes.filter(pred(nd)).select(
        col("id").as(s"id$i") +:
          neededProps(i).map(p => col(p).as(s"${nd.v}_$p")): _*)
    }
    val joined = sides(0).crossJoin(sides(1))
    val filt = dm.conds.map(_.map { case (i, c) =>
        condCol(c, col(s"${dm.nodes(i).v}_${c.prop}"),
          c.crossProp.map(p =>
            col(s"${dm.nodes(if (c.crossOnConn) 1 else 0).v}_$p")))
      }.reduceOption(_ && _).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(true))
    val out = dm.items.map { case (i, p) => s"${dm.nodes(i).v}_$p" }.distinct
    val projected = joined.filter(filt).select(out.map(col): _*)
    val deduped = if (dm.distinct) projected.distinct() else projected
    val ordered =
      if (dm.orderBy.isEmpty) deduped.orderBy(out.map(col): _*)
      else {
        def nameOf(k: (Int, String, Boolean)): String =
          s"${dm.nodes(k._1).v}_${k._2}"
        val names = dm.orderBy.map(nameOf)
        val keys = dm.orderBy.map { k =>
          if (k._3) col(nameOf(k)).desc else col(nameOf(k)).asc
        }
        deduped.orderBy(
          keys ++ out.filterNot(names.contains).map(col): _*)
      }
    val skipped = dm.skip.map(ordered.offset).getOrElse(ordered)
    dm.limit.map(skipped.limit).getOrElse(skipped)
  }

  /** A node pattern's label and inline-map constraints as one predicate
    * over the node relation.
    */
  private def nodePred(label: Option[String],
      props: Map[String, String]): Column =
    (label.map(col("label") === _).toSeq ++
      props.map { case (k, v) => col(k) === v })
      .reduceOption(_ && _).getOrElse(lit(true))

  /** A per-edge DNF over relationship properties (`x.prop` conds read
    * the edge's `props` map); None when there are no conds.
    */
  private def relDnf(conds: Seq[Seq[Cond]]): Option[Column] =
    conds.map(_.map(c => condCol(c, element_at(col("props"), c.prop)))
        .reduceOption(_ && _).getOrElse(lit(true)))
      .reduceOption(_ || _)

  /** The empty walked-edge list a trail starts from (element type: the
    * stored edge identity `eid` of [[orientedEdges]]).
    */
  private def noEdgesWalked: Column = array().cast(
    "array<struct<src:bigint,dst:bigint,relType:string>>")

  /** The nodes(p)/relationships(p) lists a path form carries when the
    * query projects them: `nds`, the node names in path order (start
    * included), and `rels`, the relationship types. Without accessors no
    * column exists, so those plans carry nothing extra.
    */
  private final case class PathLists(nodes: Boolean, rels: Boolean) {
    /** The traversal edges `base` (src, dst, eid, …), plus each edge's
      * destination `dst_name` when nodes(p) is projected: one edges⋈nodes
      * join at prep (node ids are unique), paid once before the lazy
      * checkpoint that every step reads, never per step.
      */
    def edges(g: GraphTables, base: DataFrame): DataFrame =
      (if (nodes) base.join(g.nodes.toDF()
          .select(col("id").as("dst"), col("name").as("dst_name")), "dst")
        .select(base.columns.map(col) :+ col("dst_name"): _*)
      else base).localCheckpoint(false)
    /** The start columns over a node row: its `name` opens nodes(p). */
    def start: Seq[Column] =
      (if (nodes) Seq(array(col("name")).as("nds")) else Seq.empty) ++
        (if (rels) Seq(array().cast("array<string>").as("rels"))
         else Seq.empty)
    /** The per-step appends over a frontier ⋈ [[edges]] row. */
    def step: Seq[(String, Column)] =
      (if (nodes) Seq("nds" -> array_append(col("nds"), col("dst_name")))
       else Seq.empty) ++
        (if (rels) Seq("rels" ->
          array_append(col("rels"), col("eid").getField("relType")))
         else Seq.empty)
    def names: Seq[String] = step.map(_._1)
    /** The path-order serialization: comma-joined `path_nodes` and
      * `path_rels` (the PQNodes/PQRels contract).
      */
    def serialize(df: DataFrame): DataFrame = {
      val withNodes =
        if (nodes) df.withColumn("path_nodes", array_join(col("nds"), ","))
        else df
      if (rels) withNodes.withColumn("path_rels", array_join(col("rels"), ","))
      else withNodes
    }
  }

  /** The traversal-oriented edge relation of the path forms: "out" = as
    * stored, "in" = reversed (a src↔dst projection — no extra shuffle),
    * "both" = union of both orientations. Every row keeps the STORED
    * edge identity in `eid`, so the path-level relationship-uniqueness
    * probe is orientation-blind: one relationship can never appear
    * twice in a path, even traversed in opposite directions (Cypher's
    * rule — the 2-cycle a-b-a via one edge is no path).
    */
  private def orientedEdges(g: GraphTables, dir: String): DataFrame = {
    val base = g.edges.toDF().withColumn("eid",
      struct(col("src"), col("dst"), col("relType")))
    val fwd = base.select(col("src"), col("dst"), col("relType"),
      col("props"), col("eid"))
    lazy val rev = base.select(col("dst").as("src"),
      col("src").as("dst"), col("relType"), col("props"), col("eid"))
    dir match {
      case "in" => rev
      case "both" => fwd.unionByName(rev)
      case _ => fwd
    }
  }

  /** The orientation at the TYPED relation level (the depth kernels
    * walk GraphTables.edges directly).
    */
  private def orientedTables(g: GraphTables, dir: String): GraphTables =
    if (dir == "out") g
    else {
      val rev = g.edges.toDF().select(col("dst").as("src"),
        col("src").as("dst"), col("relType"), col("docnbr"),
        col("batch"), col("props")).as(g.edges.encoder)
      GraphTables(g.nodes,
        if (dir == "in") rev else g.edges.unionByName(rev))
    }

  /** Execute a shortestPath query: one multi-root [[GraphOps.bfs]],
    * bounded or not (its min-depth dedup IS the shortest length), then
    * one node-side join per endpoint for exactly the properties the query
    * touches (the target join also enforces the b pattern's
    * label/property constraints). Never a per-pair search: all (a, b)
    * pairs resolve in one distributed traversal.
    */
  private def runShortestPath(g: GraphTables,
      sp: ShortestPathReturn): DataFrame = {
    val roots = g.nodes.filter(nodePred(sp.aLabel, sp.aProps))
    val seeds = roots.select(col("id").as("root_id"), col("id").as("node_id"))
    // the ALL-on-relationships quantifier pre-filters the edge relation
    // (shortest path in the subgraph of passing edges — one sargable
    // scan-side predicate before the BFS, exactly the ranged-pattern
    // ALL treatment)
    val rel = relDnf(sp.allConds)
      .map(dnf => if (sp.quantNone) !dnf else dnf)
      .fold(relColOf(sp.relType))(relColOf(sp.relType) && _)
    def wanted(v: String): Seq[String] = sp.items.collect {
      case (`v`, p) if !(v == sp.pathVar) => p
    }.distinct
    val aCols = wanted(sp.aVar)
    val bCols = wanted(sp.bVar)
    val needNodes = sp.items.contains((sp.pathVar, "nodes"))
    val needRels = sp.items.contains((sp.pathVar, "relationships"))
    // PATH RECONSTRUCTION (accessors requested): the depth kernels know
    // lengths, not paths. allShortestPaths keeps the bounded
    // enumeration (its BAG of min-length paths is the semantics —
    // every path must materialize); single shortestPath (r14 directive
    // 2) runs a BFS carrying one argmin path per (root, node): work
    // O(E·K), not O(|paths ≤ K|) — on a hub-skewed graph the
    // difference between linear and combinatorial (the r13 review's
    // one perf_weak item). Tie-break: the element-wise lexicographic
    // min over the (nodes, rels) ARRAYS among equal-length paths.
    // Equal-length array comparison is prefix-decomposable (appending
    // the same suffix never reorders two prefixes), which is what
    // makes the greedy per-node argmin exact; it coincides with the
    // old serialized-string min whenever name alphabets sit above ','
    // (every fixture — an accepted pin, see ShortestBfsSpec).
    val withB = if (needNodes || needRels) {
      val k = sp.bound.get
      val lists = PathLists(needNodes, needRels)
      val edges = lists.edges(g, orientedEdges(g, sp.dir).filter(rel)
        .select(col("src"), col("dst"), col("eid")))
      val bKeep = g.nodes.filter(nodePred(sp.bLabel, sp.bProps))
        .select(col("id").as("cur") +:
          bCols.map(p => col(p).as(s"${sp.bVar}_$p")): _*)
      val bSer = bCols.map(p => s"${sp.bVar}_$p")
      val tieFields = Seq("path_len") ++
        (if (needNodes) Seq("path_nodes") else Seq.empty) ++
        (if (needRels) Seq("path_rels") else Seq.empty)
      val best = if (sp.allPaths) {
        // ---- bag form: enumerate the trails, then keep every
        // min-length one
        val start = roots.select(Seq(col("id").as("root_id"),
          col("id").as("cur"), lit(0).as("path_len"),
          noEdgesWalked.as("visited")) ++ lists.start: _*)
        val candidates = GraphOps.trails(start, edges, 1, k,
            (("path_len" -> (col("path_len") + 1)) +: lists.step).toMap)
          // a root's cycle back to itself is no path (Neo4j's rule —
          // same as the depth kernels' depth > 0 + distinct endpoints)
          .filter(col("cur") =!= col("root_id"))
          .join(bKeep, "cur")
        val serialized = lists.serialize(candidates)
        val mins = serialized.groupBy("root_id", "cur")
          .agg(min(col("path_len")).as("__min_len"))
        serialized.join(mins, Seq("root_id", "cur"))
          .filter(col("path_len") === col("__min_len"))
          .drop("__min_len")
          .select((Seq("root_id", "cur") ++ tieFields ++ bSer)
            .map(col): _*)
          .distinct()
      } else {
        // ---- single form: BFS parent frontier, one argmin path per
        // (root, node). `seen` is the first-reach set (min depth); the
        // anti-join keeps a node's paths only at its BFS depth, and
        // the per-step argmin keeps exactly one row per (root, node) —
        // frontier size is bounded by |V| per root, never |paths|.
        var frontier = roots.select(Seq(col("id").as("cur"),
          col("id").as("root_id")) ++ lists.start: _*)
        var seen = frontier.select("root_id", "cur")
        var out: Option[DataFrame] = None
        for (d <- 1 to k) {
          val stepped = frontier
            .join(edges, frontier("cur") === edges("src"))
            .select(Seq(col("root_id"), edges("dst").as("cur")) ++
              lists.step.map { case (name, c) => c.as(name) }: _*)
            // first reach only: a node seen at an earlier depth has a
            // shorter path — drop every longer candidate here, which
            // is also what keeps the frontier from re-walking cycles
            .join(seen, Seq("root_id", "cur"), "left_anti")
          frontier = stepped.groupBy("root_id", "cur")
            .agg(min(struct(lists.names.map(col): _*)).as("__t"))
            .select(Seq(col("root_id"), col("cur")) ++
              lists.names.map(f => col(s"__t.$f").as(f)): _*)
            .localCheckpoint(false)
          val withLen = frontier.withColumn("path_len", lit(d))
          out = Some(out.fold(withLen)(_ unionByName withLen))
          seen = seen.unionByName(frontier.select("root_id", "cur"))
            .localCheckpoint(false)
        }
        lists.serialize(out.get.join(bKeep, "cur"))
          .select((Seq("root_id", "cur") ++ tieFields ++ bSer)
            .map(col): _*)
      }
      if (aCols.isEmpty) best
      else best.join(roots.select(col("id").as("root_id") +:
        aCols.map(p => col(p).as(s"${sp.aVar}_$p")): _*), "root_id")
    } else {
      val gO = orientedTables(g, sp.dir)
      val depths = GraphOps.bfs(gO, seeds, sp.bound, rel)
        .filter(col("depth") > 0)
      val withA =
        if (aCols.isEmpty) depths
        else depths.join(roots.select(col("id").as("root_id") +:
          aCols.map(p => col(p).as(s"${sp.aVar}_$p")): _*), "root_id")
      withA.join(
        g.nodes.filter(nodePred(sp.bLabel, sp.bProps))
          .select(col("id").as("node_id") +:
            bCols.map(p => col(p).as(s"${sp.bVar}_$p")): _*), "node_id")
        .withColumn("path_len", col("depth").cast("int"))
    }
    def colOf(v: String, p: String): String =
      if (v == sp.pathVar) p match {
        case "length" => "path_len"
        case "nodes" => "path_nodes"
        case _ => "path_rels"
      } else s"${v}_$p"
    val outCols = sp.items.map { case (v, p) => colOf(v, p) }.distinct
    val projected = withB.select(outCols.map(col): _*)
    val ordered = sp.orderBy match {
      case Some((v, p, desc)) =>
        val key = colOf(v, p)
        val head = if (desc) col(key).desc else col(key).asc
        projected.orderBy(head +: outCols.filterNot(_ == key).map(col): _*)
      case None => projected.orderBy(outCols.map(col): _*)
    }
    sp.limit.map(ordered.limit).getOrElse(ordered)
  }

  /** Execute a path-quantified ranged pattern ([[PathQuantReturn]]):
    * one [[GraphOps.trails]] enumeration over the quantifier-filtered
    * edge relation. `ALL(…)` holds by construction — the per-edge DNF
    * compiles onto the EDGE RELATION (one sargable scan-side filter), and
    * the expansion only ever walks passing edges — so the quantifier
    * costs nothing per path. The reduce() sum and the quantifier counters
    * are one column add per step. Bag semantics: one output row per
    * qualifying PATH.
    */
  private def runPathQuant(g: GraphTables, pq: PathQuantReturn)
      : DataFrame = {
    val edgeDnf = relDnf(pq.allConds).getOrElse(lit(true))
    val reduceProp = pq.items.collectFirst { case PQReduce(p, _) => p }
    // edge-prop string → double through the try_cast lens; a missing or
    // non-numeric value contributes 0 (PQReduce doc)
    val term = reduceProp
      .map(p => coalesce(element_at(col("props"), p).try_cast("double"),
        lit(0.0)))
      .getOrElse(lit(0.0))
    // ALL compiles to the edge-relation pre-filter (the expansion walks
    // only passing edges); ANY/NONE/SINGLE must walk EVERY type-matched
    // edge and instead carry the per-edge outcome as two counter
    // columns — true-count and null-count — tested at output
    // (PathQuantReturn doc: exact Kleene semantics)
    val isAll = pq.quant == "ALL" || pq.quant.isEmpty
    // nodes(p)/relationships(p) projections accumulate per-path arrays;
    // columns exist only when requested, so plans without them are
    // byte-identical to before
    val lists = PathLists(pq.items.contains(PQNodes),
      pq.items.contains(PQRels))
    val edges = lists.edges(g, orientedEdges(g, pq.dir)
      .filter(if (isAll) relColOf(pq.relType) && edgeDnf
        else relColOf(pq.relType))
      .select(col("src"), col("dst"), col("eid"),
        term.as("w"),
        (if (isAll) lit(0)
         else when(edgeDnf, lit(1)).otherwise(lit(0))).as("hit"),
        (if (isAll) lit(0)
         else when(edgeDnf.isNull, lit(1)).otherwise(lit(0))).as("unk")))
    def wanted(v: String): Seq[String] =
      pq.items.collect { case PQProp(`v`, p) => p }.distinct
    val aCols = wanted(pq.aVar)
    val bCols = wanted(pq.bVar)
    val start = g.nodes.toDF().filter(nodePred(pq.aLabel, pq.aProps))
      .select(aCols.map(p => col(p).as(s"${pq.aVar}_$p")) ++
        Seq(col("id").as("cur"), lit(0).as("path_len"),
          lit(0.0).as("total"), lit(0).as("hits"), lit(0).as("unks"),
          noEdgesWalked.as("visited")) ++ lists.start: _*)
    val paths = GraphOps.trails(start, edges, pq.lo, pq.hi, (Seq(
      "path_len" -> (col("path_len") + 1),
      "total" -> (col("total") + col("w")),
      "hits" -> (col("hits") + col("hit")),
      "unks" -> (col("unks") + col("unk"))) ++ lists.step).toMap)
    val bSide = g.nodes.toDF().filter(nodePred(pq.bLabel, pq.bProps))
      .select(col("id").as("cur") +:
        bCols.map(p => col(p).as(s"${pq.bVar}_$p")): _*)
    // the quantifier's counter test (TRUE-only survival, Kleene-exact —
    // PathQuantReturn doc); ALL already held by the edge pre-filter
    val quantKeep = pq.quant match {
      case "ANY" => col("hits") >= 1
      case "NONE" => col("hits") === 0 && col("unks") === 0
      case "SINGLE" => col("hits") === 1 && col("unks") === 0
      case _ => lit(true)
    }
    // column namespaces can't collide: the parse enforced distinct vars
    // and every projected column is <var>-prefixed
    val rows = paths.filter(quantKeep).join(bSide, "cur")
    def outName(i: PathQItem): String = i match {
      case PQProp(v, p) => s"${v}_$p"
      case PQLen => "path_len"
      case PQNodes => "path_nodes"
      case PQRels => "path_rels"
      case PQReduce(_, a) => a
    }
    val outCols = pq.items.map(outName)
    val named0 = pq.items.collectFirst {
      case PQReduce(_, a) if a != "total" => a
    }.fold(rows)(a => rows.withColumnRenamed("total", a))
    val projected = lists.serialize(named0).withColumn("path_len",
      col("path_len").cast("int")).select(outCols.map(col): _*)
    val ordered = pq.orderBy match {
      case Some((k, desc)) =>
        val head = if (desc) col(k).desc else col(k).asc
        projected.orderBy(head +: outCols.filterNot(_ == k).map(col): _*)
      case None => projected.orderBy(outCols.map(col): _*)
    }
    pq.limit.map(ordered.limit).getOrElse(ordered)
  }

  /** One numeric comparison column (the WHERE-after-WITH filter). */
  private def numCmp(c: Column, op: String, v: Double): Column = op match {
    case "=" => c === v
    case "<>" => c =!= v
    case "<" => c < v
    case "<=" => c <= v
    case ">" => c > v
    case ">=" => c >= v
    case other => throw new IllegalArgumentException(
      s"unsupported comparison operator: $other")
  }

  /** Edge filter for a hop pattern's relationship constraint: a single
    * type is an equality, the alternation form `:A|B` (Cypher's
    * multi-type relationship pattern) is set membership over the listed
    * types, and an untyped pattern follows all downward containment
    * (`HAS_*`) edges. Both compile to sargable predicates on the edge
    * relation's `relType` column, pushed below the expansion's joins.
    */
  /** The Spark column of one scalar-fn RETURN item ([[RetPropFn]]); args
    * were validated by the parse regexes (digits / quote-free strings).
    * Cypher semantics: `size()` is string length, `substring()` is
    * 0-based (desugared to SQL's 1-based form), `replace()` replaces all
    * occurrences; null in → null out for every function.
    */
  private def scalarCol(f: RetPropFn): Column =
    scalarColOn(f, col(f.prop))

  /** [[scalarCol]] over an explicit source column (the c-side transforms
    * read the binding relation's `c_<prop>` column).
    */
  private def scalarColOn(f: RetPropFn, src: Column): Column = {
    f.fn match {
      case "tolower" => lower(src)
      case "toupper" => upper(src)
      case "trim" => trim(src)
      case "size" => length(src).cast("long")
      // Cypher's conversions answer null on a non-numeric string (the
      // try_cast lens, same as numeric WHERE comparisons); toInteger
      // truncates a fractional string toward zero as Neo4j does
      case "tointeger" => src.try_cast("double").cast("long")
      case "tofloat" => src.try_cast("double")
      case "replace" =>
        replace(src, lit(f.args(0)), lit(f.args(1)))
      case "substring" =>
        val start = f.args.head.toInt + 1
        f.args.drop(1).headOption match {
          case Some(len) => src.substr(lit(start), lit(len.toInt))
          case None => src.substr(lit(start), length(src))
        }
      case "left" => left(src, lit(f.args.head.toInt))
      case "right" => right(src, lit(f.args.head.toInt))
      // coalesce over the MATCHED variable (r15): node properties store
      // '' for ABSENT (the ingest convention — keys(n)/properties(n)
      // apply the same rule), so the default fires on '' as well as on
      // the OPTIONAL-null, which is exactly Cypher's missing-property
      // answer on this engine's at-rest encoding
      case "coalesce" =>
        when(src.isNull || src === "", lit(f.args.head)).otherwise(src)
      case other => throw new IllegalArgumentException(
        s"unknown scalar fn: $other (parse/exec drifted)")
    }
  }

  /** The searched-CASE column of a [[RetCase]] item: the WHEN chain
    * folded right-to-left so the first true branch wins; a null
    * comparison falls through (Cypher); no ELSE → null.
    */
  private def caseColOf(bs: Seq[(Cond, String)],
      default: Option[String]): Column =
    bs.foldRight(
      default.map(lit(_)).getOrElse(lit(null).cast("string"))) {
      case ((cond, out), acc) =>
        when(condCol(cond, col(cond.prop)), lit(out)).otherwise(acc)
    }

  /** keys(n)/properties(n) serialization over a node relation's RAW
    * columns ([[RetNodeAccessor]] doc): the user properties are
    * {content, docnbr, name} (already in sorted-key order), the empty
    * string means ABSENT (the ingest's at-rest convention), and the two
    * shapes match keys(r)/properties(r) exactly — comma-joined key list
    * / `{k: v, …}`. Pure column expressions (whole-stage codegen), no
    * join — callers that need it on a JOINED node image compute it here
    * and alias the result.
    */
  private def nodeAccessorCol(fn: String): Column = {
    val props = Seq("content", "docnbr", "name") // sorted-key order
    if (fn == "keys")
      array_join(filter(array(props.map(p =>
        when(col(p) =!= "", lit(p))): _*), x => x.isNotNull), ",")
    else
      concat(lit("{"), array_join(filter(array(props.map(p =>
        when(col(p) =!= "", concat(lit(p + ": "), col(p)))): _*),
        x => x.isNotNull), ", "), lit("}"))
  }

  private def relColOf(relType: Option[String]): Column =
    relType.map { s =>
      val ts = s.split("\\|").map(_.trim).toSeq
      if (ts.sizeIs == 1) col("relType") === ts.head
      else col("relType").isin(ts: _*)
    }.getOrElse(col("relType").startsWith("HAS_"))

  private def condCol(c: Cond, targetRaw: Column,
      rhs: Option[Column] = None): Column = {
    // toLower/toUpper LHS wrapper: fold the property column BEFORE the
    // comparison (null folds to null — a missing property still drops).
    // Codegen-native lower()/upper(), so the predicate stays sargable
    // enough for Catalyst to keep it in the scan-side filter.
    val target0 = c.fn match {
      case Some("tolower") => lower(targetRaw)
      case Some("toupper") => upper(targetRaw)
      // size(): Cypher's string length, a numeric lens (r14) — stays a
      // codegen length() so the predicate remains scan-side
      case Some("size") => length(targetRaw)
      case _ => targetRaw
    }
    // node-id comparisons stay in LONG space when every literal is
    // integral: ids are 64-bit (the ingest path hashes content into
    // 60-bit keys), and the generic double lens below rounds past 2^52 —
    // `WHERE id(n) = <hash-id>` through a double would match NEIGHBORING
    // ids. Only the dotted id of a NODE variable qualifies (an edge
    // property that happens to be named "id" keeps the string/double
    // lens), and only for =/<>/IN; range ops on ids are not a meaningful
    // query and keep the generic lens.
    val idExact = c.prop == "id" && c.numeric && !c.onRelProp &&
      c.fn.isEmpty && rhs.isEmpty &&
      (c.op match {
        case "IN" => c.values.nonEmpty &&
          c.values.forall(x => scala.util.Try(x.toLong).isSuccess)
        case "=" | "<>" => scala.util.Try(c.value.toLong).isSuccess
        case _ => false
      })
    if (idExact) {
      val t = target0.cast("long")
      val base = c.op match {
        case "=" => t === c.value.toLong
        case "<>" => t =!= c.value.toLong
        case _ => t.isin(c.values.map(_.toLong): _*)
      }
      return if (c.negated) !base else base
    }
    // unquoted literal → numeric comparison: the property try_casts to
    // double and non-numeric values become null, so the comparison is null
    // and the row drops — observably identical to Cypher's string-vs-number
    // null (a plain cast would THROW under ANSI mode instead of dropping)
    val target = if (c.numeric) target0.try_cast("double") else target0
    // `NOT <cmp>`: negate AFTER evaluation — Spark's ! of null is null,
    // matching Cypher (NOT null is null; the row drops either way)
    val base = condColBase(c, target0, target, rhs)
    if (c.negated) !base else base
  }

  private def condColBase(c: Cond, target0: Column,
      target: Column, rhs: Option[Column]): Column = {
    // cross-variable conds compare against the RHS property COLUMN; all
    // others against the parsed literal (never both — CrossCondRe admits
    // no literal, CondRe no var.prop RHS)
    def v: Any = rhs.getOrElse(if (c.numeric) c.value.toDouble else c.value)
    c.op match {
    case "=" => target === v
    case "<>" => target =!= v
    case "<" => target < v
    case "<=" => target <= v
    case ">" => target > v
    case ">=" => target >= v
    // Cypher string predicates (the schema prompt's free-text properties
    // invite these from the LLM constantly). Literal-prefix/suffix/infix
    // matching — startsWith compiles to a sargable LIKE 'v%' Catalyst can
    // push into the scan
    // Cypher's null test; never try_cast-wrapped (c.numeric is false for
    // these ops — there is no literal)
    case "IS NULL" => target0.isNull
    case "IS NOT NULL" => target0.isNotNull
    // Cypher regex predicate: `=~` matches the WHOLE string (Neo4j's
    // rule), unlike SQL rlike's substring semantics — the pattern is
    // wrapped in a non-capturing whole-string anchor. Always a string
    // comparison (a numeric literal was rejected at parse time; the
    // cross-variable form admits no `=~`).
    case "=~" => target0.rlike("^(?:" + c.value + ")$")
    case "STARTS WITH" =>
      rhs.fold(target.startsWith(c.value))(target.startsWith)
    case "ENDS WITH" =>
      rhs.fold(target.endsWith(c.value))(target.endsWith)
    case "CONTAINS" =>
      rhs.fold(target.contains(c.value))(r => target.contains(r))
    // IN list membership; `IN []` matches nothing (Cypher). Numeric lists
    // compare through the same try_cast-to-double lens as scalar numerics.
    case "IN" =>
      if (c.values.isEmpty) lit(false)
      else if (c.numeric) target.isin(c.values.map(_.toDouble): _*)
      else target.isin(c.values: _*)
    // unreachable when parse() normalized the op (CondRe only admits the
    // forms above) — but fail with a named error, never a bare MatchError
    case other => throw new IllegalArgumentException(
      s"unsupported comparison operator: $other")
    }
  }

  /** Execute against the graph; returns (m_label, m_name[, depth, c_label,
    * c_name, c_content]) rows — or the requested `m_<prop>` projection —
    * mirroring the reference's (m, connected) contract (`first-graph.py:168`).
    */
  /** Targeted parse failure raised from helpers that sit BELOW the
    * Either-threading statement parsers (textual extractors like
    * [[parseRelProps]], which the statement regexes call mid-pattern);
    * [[run]] converts it to the standard Left so callers see one error
    * channel.
    */
  private final case class ParseError(msg: String)
    extends RuntimeException(msg)

  def run(g: GraphTables, query: String): Either[String, DataFrame] =
    try {
      val toks = UnionTokRe.findAllMatchIn(blankQuoted(query)).toSeq
      if (toks.isEmpty) runSingle(g, query)
      else runUnion(g, query, toks)
    } catch { case ParseError(m) => Left(m) }

  // `UNION [ALL]` tokens, located on the length-preserving quote-blanked
  // text so a literal containing the word can never split a query
  private val UnionTokRe = """(?i)\bUNION\b(\s+ALL\b)?""".r

  /** Length-preserving string-literal blanking: every character inside a
    * quoted literal becomes a space, so token positions found on the
    * blanked text index directly into the original.
    */
  private def blankQuoted(q: String): String = {
    val sb = new StringBuilder(q)
    var in = false
    var i = 0
    while (i < q.length) {
      val ch = q.charAt(i)
      if (ch == '\'') in = !in
      else if (in) sb.setCharAt(i, ' ')
      i += 1
    }
    sb.toString
  }

  /** Split a RETURN item list on TOP-LEVEL commas only: a comma inside a
    * function's parens (coalesce's argument separator) or a quoted
    * literal never splits. Depth and quoting tracked on the
    * length-preserving blanked text, substrings cut from the original.
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val blanked = blankQuoted(s)
    val cuts = Seq.newBuilder[Int]
    var depth = 0
    var i = 0
    while (i < s.length) {
      blanked.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => cuts += i
        case _ => ()
      }
      i += 1
    }
    val bounds = (-1 +: cuts.result()) :+ s.length
    bounds.sliding(2).map { case Seq(a, b) => s.substring(a + 1, b) }.toSeq
  }

  /** Top-level `UNION [ALL]` (Cypher's whole-query set/bag union). Every
    * branch must return the same output columns in the same order
    * (Cypher's rule); `UNION` dedupes the combined rows, `UNION ALL`
    * keeps the bag, and mixing the two forms is rejected (Neo4j's
    * "invalid combination" error). ORDER BY / SKIP / LIMIT inside a
    * branch is rejected the way Neo4j rejects it — a trailing ORDER BY
    * would otherwise bind to the LAST branch and silently mean something
    * other than the global sort the caller intended. The combined result
    * is returned in the engine's deterministic all-column order; each
    * branch is one distributed plan and the union is a no-shuffle
    * concatenation (plus one hash dedup exchange under set semantics).
    */
  private def runUnion(g: GraphTables, query: String,
      toks: Seq[scala.util.matching.Regex.Match])
      : Either[String, DataFrame] = {
    val alls = toks.map(_.group(1) != null)
    if (alls.distinct.sizeIs > 1)
      Left("invalid combination of UNION and UNION ALL in one query")
    else {
      val bounds = (0 +: toks.map(_.end))
        .zip(toks.map(_.start) :+ query.length)
      val branches = bounds.map { case (a, b) => query.substring(a, b) }
      val parsed = branches.map(parse)
      parsed.collectFirst { case Left(e) => Left(e) }.getOrElse {
        val stmts = parsed.collect { case Right(s) => s }
        val paged = stmts.exists {
          case m: MatchReturn =>
            m.orderBy.nonEmpty || m.skip.isDefined || m.limit.isDefined
          case c: ChainReturn =>
            c.orderBy.nonEmpty || c.skip.isDefined || c.limit.isDefined
          case dm: DualMatchReturn =>
            dm.orderBy.nonEmpty || dm.skip.isDefined || dm.limit.isDefined
          case sp: ShortestPathReturn =>
            sp.orderBy.isDefined || sp.limit.isDefined
          case pq: PathQuantReturn =>
            pq.orderBy.isDefined || pq.limit.isDefined
          case cw: ChainedWith =>
            cw.retOrderBy.nonEmpty || cw.retSkip.isDefined ||
              cw.retLimit.isDefined ||
              cw.stages.exists(s => s.orderBy.nonEmpty || s.limit.isDefined)
          case _ => false
        }
        if (stmts.exists(s => s.isInstanceOf[DetachDelete] ||
            s.isInstanceOf[SetContent] || s.isInstanceOf[CreateNode]))
          Left("a write statement (DETACH DELETE / SET / CREATE) cannot " +
            "appear in a UNION")
        else if (paged)
          Left("ORDER BY / SKIP / LIMIT inside a UNION branch is not " +
            "supported (as in Cypher); the union is returned in its " +
            "deterministic all-column order")
        else {
          val ran = branches.map(b => runSingle(g, b))
          ran.collectFirst { case Left(e) => Left(e) }.getOrElse {
            val dfs = ran.collect { case Right(df) => df }
            val cols = dfs.head.columns.toSeq
            dfs.find(_.columns.toSeq != cols) match {
              case Some(bad) =>
                Left("all UNION branches must return the same columns: " +
                  s"(${cols.mkString(", ")}) vs " +
                  s"(${bad.columns.mkString(", ")})")
              case None =>
                val combined = dfs.reduce(_ unionByName _)
                val merged = if (alls.head) combined else combined.distinct()
                Right(merged.orderBy(cols.map(col): _*))
            }
          }
        }
      }
    }
  }

  /** Execute the chained WITH pipeline: stage 1 through the single-stage
    * WITH machinery (its validated query text), later stages as flat
    * grouped aggregates over the previous output — each stage one
    * distributed aggregation on its grouping keys, nothing collected.
    */
  private def runChainedWith(g: GraphTables, cw: ChainedWith)
      : Either[String, DataFrame] =
    runSingle(g, cw.stage1Query).map { df1 =>
      val renamed = cw.stage1Renames.foldLeft(df1) {
        case (df, (from, to)) =>
          if (from == to) df else df.withColumnRenamed(from, to)
      }
      val staged = cw.stages.foldLeft(renamed)(runFlatStage)
      val projected = staged.select(cw.retItems.map(i => col(i._1)): _*)
      val dd = if (cw.retDistinct) projected.distinct() else projected
      val ordered =
        if (cw.retOrderBy.isEmpty) dd
        else dd.orderBy(cw.retOrderBy.map { case (k, desc) =>
          if (desc) col(k).desc else col(k).asc }: _*)
      val skipped = cw.retSkip.map(ordered.offset).getOrElse(ordered)
      val limited = cw.retLimit.map(skipped.limit).getOrElse(skipped)
      cw.retItems.foldLeft(limited) {
        case (df, (from, Some(to))) if from != to =>
          df.withColumnRenamed(from, to)
        case (df, _) => df
      }
    }

  private def runFlatStage(df: DataFrame, st: FlatStage): DataFrame = {
    val agged =
      if (st.aggs.isEmpty) {
        val proj = df.select(st.keys.map(col): _*)
        if (st.distinct) proj.distinct() else proj
      } else {
        val exprs = st.aggs.map { a =>
          (a match {
            case FlatAgg("count", None, _, _) => count(lit(1))
            case FlatAgg("count", Some(x), true, _) => countDistinct(col(x))
            case FlatAgg("count", Some(x), false, _) => count(col(x))
            case FlatAgg("sum", Some(x), _, _) => sum(col(x))
            case FlatAgg("avg", Some(x), _, _) => avg(col(x))
            case FlatAgg("min", Some(x), _, _) => min(col(x))
            case FlatAgg("max", Some(x), _, _) => max(col(x))
            case other => throw new IllegalStateException(
              s"parse admitted an unexecutable stage aggregate: $other")
          }).as(a.alias)
        }
        if (st.keys.isEmpty) df.agg(exprs.head, exprs.tail: _*)
        else df.groupBy(st.keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
      }
    // WHERE position semantics mirror the single-stage grammar: before
    // ORDER BY it filters the groups (HAVING); after a LIMIT it filters
    // the limited rows (openCypher's subclause order)
    val pre = st.having.filter(_ => !st.havingAfterLimit).fold(agged) {
      case (t, op, v) => agged.filter(numCmp(col(t), op, v))
    }
    val ordered =
      if (st.orderBy.isEmpty) pre
      else pre.orderBy(st.orderBy.map { case (k, desc) =>
        if (desc) col(k).desc else col(k).asc }: _*)
    val limited = st.limit.map(ordered.limit).getOrElse(ordered)
    st.having.filter(_ => st.havingAfterLimit).fold(limited) {
      case (t, op, v) => limited.filter(numCmp(col(t), op, v))
    }
  }

  /** [[AggTopKExpand]] execution — phase 1: the ordered-limited KEY
    * VALUES (≤ k ≤ TopKMaxK, a bounded collect); phase 2: the tail
    * through the UNWIND rewrite with the values as the IN list — group
    * keys are distinct, so set membership is exact. Package-private so
    * the stage-1 column contract's fail-loud path is spec-reachable.
    */
  private[graph] def execAggTopK(g: GraphTables,
      ae: AggTopKExpand): Either[String, DataFrame] =
    runSingle(g, ae.stage1Query).flatMap { df1 =>
      // the key surfaces as m_<prop> (root-side grouping — the
      // stage-1 grammar's rule) or c_<prop> (a conn-side carrier
      // some hop shapes emit); anything else is an internal
      // contract break — FAIL, never guess a column (a wrong guess
      // would silently splice non-key values into the IN list)
      val alt = "c_" + ae.keyCol.stripPrefix("m_")
      Seq(ae.keyCol, alt).find(df1.columns.contains).map { keyCol =>
        val vals = df1.select(col(keyCol).cast("string")).collect()
          .map(_.getString(0)).toSeq.distinct
        if (vals.exists(v => v == null || v.contains("'") ||
            v.contains(",")))
          Left("a selected key value contains a quote or comma (or " +
            "is null) — the re-expansion cannot splice it as an " +
            "IN-list literal")
        else {
          val listStr = vals.map(v => s"'$v'").mkString(", ")
          rewriteUnwind(listStr, ae.keyAlias, ae.tail)
            .flatMap(q2 => runSingle(g, q2))
        }
      }.getOrElse(Left("internal: the aggregate-then-expand " +
        s"stage 1 produced columns [${df1.columns.mkString(", ")}]" +
        s" — expected the key as '${ae.keyCol}' or '$alt'"))
    }

  private def runSingle(g: GraphTables,
      query: String): Either[String, DataFrame] =
    parse(query).flatMap {
      case cw: ChainedWith => runChainedWith(g, cw)
      case ub: UnwindBag =>
        // the bag = union of per-occurrence runs; aggregates arrive as
        // per-element PARTIALS and re-aggregate here (one narrow union
        // + one hash aggregate over ≤|list| rows per group — the list
        // is a query literal, so this is O(list) driver-side plan, not
        // data-sized work)
        val runs = ub.queries.map(q => runSingle(g, q))
        runs.collectFirst { case Left(e) => Left(e) }.getOrElse {
          val dfs = runs.collect { case Right(df) => df }
          val u = dfs.reduce(_ unionByName _)
          if (ub.reAgg.isEmpty) Right(u)
          else {
            val aggCols = ub.reAgg.map(_._1).toSet
            val keys = u.columns.filterNot(aggCols)
            val aggs = ub.reAgg.map { case (a, fn) =>
              (fn match {
                case "count" | "sum" => sum(col(a))
                case "min" => min(col(a))
                case _ => max(col(a))
              }).as(a)
            }
            val res =
              if (keys.isEmpty) u.agg(aggs.head, aggs.tail: _*)
              else u.groupBy(keys.map(col): _*)
                .agg(aggs.head, aggs.tail: _*)
            Right(res.select(u.columns.map(col): _*))
          }
        }
      case ae: AggTopKExpand => execAggTopK(g, ae)
      case ga: GlobalAggExpand =>
        // phase 1: the global aggregates — ONE row by construction
        // (a key-less aggregate over any match, even empty, answers
        // exactly one summary row); phase 2: the tail's own result
        // with the scalars re-entering as typed literal columns at
        // their original RETURN positions
        runSingle(g, ga.stage1Query).flatMap { df1 =>
          val missing = ga.layout.collect {
            case Left((src, _)) if !df1.columns.contains(src) => src
          }
          if (missing.nonEmpty)
            Left("internal: the global-aggregate stage produced " +
              s"columns [${df1.columns.mkString(", ")}] — missing " +
              s"the spliced scalar(s) ${missing.mkString(", ")}")
          else {
            val row = df1.collect().head
            runSingle(g, ga.tailQuery).map { df2 =>
              val cols = ga.layout.map {
                case Left((src, out)) =>
                  val idx = row.fieldIndex(src)
                  val c = if (row.isNullAt(idx))
                    lit(null).cast(df1.schema(idx).dataType)
                  else lit(row.get(idx))
                  c.as(out)
                case Right(i) => col(df2.columns(i))
              }
              df2.select(cols: _*)
            }
          }
        }
      case tk: TopKExpand =>
        // phase 1: the ordered-limited id set — a BOUNDED collect
        // (≤ k ≤ TopKMaxK rows by construction, the broadcast-the-
        // tiny-side plan); phase 2: the tail re-parsed with the ids
        // as an exact-long IN conjunct on the root variable
        runSingle(g, tk.stage1Query).flatMap { df1 =>
          val idCol = Seq("m_id", "id").find(df1.columns.contains)
            .getOrElse(df1.columns.last)
          val ids = df1.select(col(idCol).cast("long")).collect()
            .map(_.getLong(0)).toSeq.distinct
          runSingle(g, tk.rebuilt(ids))
        }
      case ReturnLiteral(num, str, alias) =>
        val spark = g.nodes.sparkSession
        val (value, name) = num match {
          case Some(n) if n.contains('.') =>
            (lit(n.toDouble), alias.getOrElse(n))
          case Some(n) => (lit(n.toLong), alias.getOrElse(n))
          case None => (lit(str.getOrElse("")),
            alias.getOrElse(s"'${str.getOrElse("")}'"))
        }
        Right(spark.range(1).select(value.as(name)))
      case ch: ChainReturn =>
        ch.nodes.flatMap(_.props.keys).find(!SupportedProps(_))
          .map(k => Left(s"unsupported property: $k " +
            s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})"))
          .orElse((ch.conds.flatten.map(_._2.prop) ++ ch.items.map(_._2)
              // index -1 = the ORDER BY count(v) pseudo-key, not a prop
              ++ ch.orderBy.filter(_._1 >= 0).map(_._2).toSeq)
            .find(!ProjectableProps(_))
            .map(k => Left(s"unsupported projection property: $k " +
              s"(supported: ${ProjectableProps.toSeq.sorted.mkString(", ")})")))
          .getOrElse(Right(runChain(g, ch)))
      case dm: DualMatchReturn =>
        dm.nodes.flatMap(_.props.keys).find(!SupportedProps(_))
          .map(k => Left(s"unsupported property: $k " +
            s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})"))
          .orElse((dm.conds.flatten.flatMap { case (_, c) =>
              Seq(c.prop) ++ c.crossProp.toSeq
            } ++ dm.items.map(_._2) ++ dm.orderBy.map(_._2).toSeq)
            .find(!ProjectableProps(_))
            .map(k => Left(s"unsupported projection property: $k " +
              s"(supported: ${ProjectableProps.toSeq.sorted.mkString(", ")})")))
          .getOrElse(Right(runDualMatch(g, dm)))
      case sp: ShortestPathReturn =>
        (sp.aProps.keys ++ sp.bProps.keys).find(!SupportedProps(_))
          .map(k => Left(s"unsupported property: $k " +
            s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})"))
          .orElse(sp.items.collect {
              case (v, p) if v != sp.pathVar => p
            }.find(!ProjectableProps(_))
            .map(k => Left(s"unsupported projection property: $k " +
              s"(supported: ${ProjectableProps.toSeq.sorted.mkString(", ")})")))
          .getOrElse(Right(runShortestPath(g, sp)))
      case pq: PathQuantReturn =>
        (pq.aProps.keys ++ pq.bProps.keys).find(!SupportedProps(_))
          .map(k => Left(s"unsupported property: $k " +
            s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})"))
          .orElse(pq.items.collect { case PQProp(_, p) => p }
            .find(!ProjectableProps(_))
            .map(k => Left(s"unsupported projection property: $k " +
              s"(supported: " +
              s"${ProjectableProps.toSeq.sorted.mkString(", ")})")))
          .getOrElse(Right(runPathQuant(g, pq)))
      case DetachDelete(tag) =>
        // the reference's boolean tag ≙ our batch lineage column
        val after = GraphOps.dropBatch(g, tag)
        Right(after.nodes.groupBy("batch")
          .agg(count(lit(1)).as("n_nodes")).orderBy("batch").toDF())
      // SET/CREATE through the read API would compute a success summary
      // from a mutated graph that is immediately DISCARDED — a phantom
      // write. Reject with a pointer instead of pretending.
      case _: SetContent | _: CreateNode | _: MergeEdges |
          _: MergeNodeOnSet | _: MergeEdgesOnSet | _: SetRelProps |
          _: DeleteRels | _: RemoveRelProps | _: DetachDeleteNodes |
          _: TopKWrite =>
        Left("SET/CREATE/MERGE are write statements — use runWrite(), " +
          "returns the mutated graph alongside the summary (run() would " +
          "discard the mutation)")
      case MatchReturn(label, props, relType, hops, conds, items, orderBy,
          skip, limit, optional, distinct, existsPat, withSpec, aliases,
          direction, relVar, rootConds) =>
        // unknown keys are rejected, not silently coerced to a name match —
        // a plausible-but-wrong answer is worse than an error to the
        // LLM-emitted-query caller this front end serves
        val retProps = items.collect { case RetProp(p) => p }
        val connRetProps = items.collect {
          case RetConnProp(p) => p
          case RetCoalesce(p, _) => p
        }
        val hasCount = items.exists(i => i.isInstanceOf[RetCount] ||
          i.isInstanceOf[RetCountRel] ||
          i.isInstanceOf[RetCollect] || i.isInstanceOf[RetAggProp] ||
          i.isInstanceOf[RetAggRelProp] ||
          i.isInstanceOf[RetCollectRel] ||
          i.isInstanceOf[RetCountRoot] || i.isInstanceOf[RetAggRootProp] ||
          i.isInstanceOf[RetCollectRoot])
        // coalesce() plumbs as a c-prop projection; the whole-node and
        // aggregate branches never apply its default, so the combinations
        // are rejected rather than silently dropped
        val coalesceGuard: Option[Left[String, Nothing]] =
          if (items.exists(_.isInstanceOf[RetCoalesce]) &&
            (items.contains(RetConnected) || hasCount))
            Some(Left("coalesce() cannot combine with a whole-node " +
              "connected projection or an aggregate — project the " +
              "property directly"))
          else None
        val collectProps = items.collect { case RetCollect(p, _) => p } ++
          items.collect { case RetAggProp(_, p) => p } ++
          items.collect { case RetCountProp(_, p, true) => p }
        // m-side global property aggregates read MATCHED-node columns —
        // validated against the projectable set, not the connected one
        val rootAggProps =
          items.collect { case RetAggRootProp(_, p) => p } ++
            items.collect { case RetCollectRoot(p, _) => p } ++
            items.collect { case RetCountProp(_, p, false) => p }
        // type(r) conds (onRel) target the bindings' r_type column and
        // r.prop conds (onRelProp) the schemaless edge-property map —
        // neither is a node property; exempt from the name checks
        val (connConds, mConds) =
          conds.flatten.filterNot(c => c.onRel || c.onRelProp)
            .partition(_.onConn)
        val filterProps = props.keys ++ mConds.map(_.prop) ++
          rootConds.flatten.map(_.prop) ++
          rootConds.flatten.flatMap(_.crossProp)
        // the count and type(r) pseudo-keys order by the aggregate /
        // relationship-type column, not an m property — exempt from the
        // property-name validations below
        // connected-prop keys (the "c:" namespace) were validated against
        // the projected items at parse time; only m-property keys go
        // through the outProps check below
        val obProps = orderBy.map(_._1).distinct
          .filterNot(k => k == CountKey || k == RelTypeKey ||
            k.startsWith(ConnKeyPrefix) || k.startsWith(AggKeyPrefix) ||
            k.startsWith(RelKeyPrefix) || k.startsWith(FnConnKeyPrefix))
          // an fn: key's BASE property carries the must-be-projected rule
          .map(k => if (k.startsWith(FnKeyPrefix)) k.split(':')(2) else k)
        // scalar-fn/CASE items read raw property columns before
        // transforming — validate those names like any projection
        val fnProps = items.collect { case RetPropFn(_, p, _) => p } ++
          items.collect { case RetCase(bs, _) => bs.map(_._1.prop) }.flatten
        val projProps = retProps ++ obProps ++ rootAggProps ++ fnProps
        // ORDER BY must name a projected property: with LIMIT an unsortable
        // key would silently change WHICH rows come back, which is exactly
        // the plausible-but-wrong failure this front end refuses to serve.
        // Must mirror runMatch's per-branch output columns exactly —
        // ordered() fails loudly if the two ever drift.
        val outProps: Set[String] =
          if (hops == 0) items.flatMap {
            case RetVar => Seq("label", "name", "content")
            case RetProp(p) => Seq(p)
            case _ => Seq.empty
          }.toSet
          else if (hasCount) items.flatMap {
            case RetVar => Seq("name")
            case RetProp(p) => Seq(p)
            case _ => Seq.empty
          }.toSet
          else if (items.contains(RetConnected))
            (if (retProps.nonEmpty) retProps else Seq("name")).toSet
          else if (retProps.nonEmpty || connRetProps.nonEmpty)
            retProps.toSet // c-prop-only RETURN → no m ORDER BY keys
          else Set("label", "name")
        coalesceGuard
          // `id` is filterable (r15: `WHERE id(n) = 123`, desugared to
          // the dotted form) though never writable
          .orElse(filterProps.filterNot(_ == "id")
            .find(!SupportedProps(_))
            .map(k => Left(s"unsupported property: $k " +
              s"(supported: ${SupportedProps.toSeq.sorted.mkString(", ")})")))
          .orElse((connConds.map(_.prop) ++ connRetProps ++ collectProps ++
            items.collect { case RetConnFn(f) => f.prop })
            .find(!ConnectedProps(_))
            .map(k => Left(s"unsupported connected-node property: $k " +
              s"(supported: ${ConnectedProps.toSeq.sorted.mkString(", ")})")))
          .orElse(projProps.find(!ProjectableProps(_))
            .map(k => Left(s"unsupported projection property: $k " +
              s"(supported: ${ProjectableProps.toSeq.sorted.mkString(", ")})")))
          .orElse(obProps.filterNot(outProps).headOption
            .map(k => Left(s"ORDER BY key '$k' must be among the returned " +
              s"properties (${outProps.toSeq.sorted.mkString(", ")})")))
          .getOrElse(Right(runMatch(g, label, props, relType, hops, conds,
            items, orderBy, skip, limit, optional, distinct, existsPat,
            withSpec, aliases, direction, relVar.isDefined, rootConds)))
    }

  /** The edge relation with src/dst swapped — the `<-[]-` traversal
    * substrate. A pure projection over the cached edge dataset: no
    * shuffle, no extra scan; relType/lineage columns ride along unchanged
    * so typed filters and batch semantics work identically in reverse.
    */
  private def reversedEdges(
      g: GraphTables): org.apache.spark.sql.Dataset[EdgeRow] = {
    import g.edges.sparkSession.implicits._
    g.edges.select(col("dst").as("src"), col("src").as("dst"),
      col("relType"), col("docnbr"), col("batch"), col("props"))
      .as[EdgeRow]
  }

  /** Single-hop expansion carrying the traversed edge's type (`r_type`) —
    * the substrate for a bound relationship variable (`-[r]->`). Same
    * column contract as [[GraphOps.neighborhoodWhereKeyed]] plus `r_type`,
    * but one row per EDGE rather than per min-depth-deduped (root, node)
    * pair — Cypher's bag semantics, where parallel relationships bind
    * separately. Only the single-hop form may bind a variable (type() is
    * undefined on a var-length binding), so this is a plain three-way
    * join — roots ⋈ edges ⋈ nodes — with no fixpoint; direction
    * reorientation composes exactly as for the kernel (the reversed edge
    * relation keeps `relType`, so type(r) answers the TRUE type of an
    * incoming edge).
    */
  /** The single-hop typed-bindings relation: one row per (root, edge)
    * binding. Orientation is applied HERE (not by pre-reversing the
    * edge table) so every row keeps the STORED edge identity in
    * `r_eid` — on an undirected match the both-orientations union
    * yields two binding rows per stored relationship (Cypher's bag
    * semantics: `count(r)` counts both), but `count(DISTINCT r)`
    * collapses them back to ONE relationship by grouping on `r_eid`
    * rather than the orientation-dependent (root, c, type) tuple
    * (ADVICE r13: the latter double-counted undirected matches).
    */
  private def typedBindings(g0: GraphTables, dir: String, pred: Column,
      relFilter: Column): DataFrame = {
    val roots = g0.nodes.filter(pred).select(col("id").as("root_id"),
      col("name").as("root_name"))
    val base = g0.edges.filter(relFilter).toDF()
      .withColumn("r_eid", struct(col("src"), col("dst"), col("relType")))
    val fwd = base.select(col("src").as("root_id"),
      col("dst").as("c_id"), col("relType").as("r_type"),
      col("props").as("r_props"), col("r_eid"))
    lazy val rev = base.select(col("dst").as("root_id"),
      col("src").as("c_id"), col("relType").as("r_type"),
      col("props").as("r_props"), col("r_eid"))
    val es = dir match {
      case "in" => rev
      case "both" => fwd.unionByName(rev)
      case _ => fwd
    }
    val connected = g0.nodes.select(col("id").as("c_id"),
      col("label").as("c_label"), col("name").as("c_name"),
      col("content").as("c_content"))
    roots.join(es, "root_id").join(connected, "c_id")
      .select(col("root_id"), col("root_name"), lit(1).as("depth"),
        col("c_id"), col("c_label"), col("c_name"), col("c_content"),
        col("r_type"), col("r_props"), col("r_eid"))
  }

  private def runMatch(g0: GraphTables, label: Option[String],
      props: Map[String, String], relType: Option[String], hops: Int,
      conds: Seq[Seq[Cond]], items: Seq[RetItem],
      orderBy: Seq[(String, Boolean)], skip: Option[Int],
      limit: Option[Int], optional: Boolean, distinct: Boolean,
      existsPat: Option[ExistsPat],
      withSpec: Option[WithSpec],
      aliases: Map[String, String] = Map.empty,
      direction: String = "out",
      hasRelVar: Boolean = false,
      rootConds: Seq[Seq[Cond]] = Seq.empty): DataFrame = {
    // direction is executed by reorienting the edge relation fed to the
    // expansion kernel — a projection, no extra shuffle: `<-[]-` swaps
    // src/dst, the undirected `-[]-` unions both orientations (each hop
    // may then follow an edge either way; the kernel's min-depth dedup
    // keeps one binding per (root, node) pair and depth 0 still excludes
    // the root itself). The WHERE pattern-existence predicate keeps its
    // own explicit `->` syntax and always sees the original orientation.
    val g = direction match {
      case "out" => g0
      case "in" => GraphTables(g0.nodes, reversedEdges(g0))
      case _ =>
        GraphTables(g0.nodes, g0.edges.unionByName(reversedEdges(g0)))
    }
    // the aggregate's output column: the WITH alias when one was bound,
    // else the fixed contract names (AS aliases rename at the very end)
    val aggItems = items.filter(i =>
      i.isInstanceOf[RetCount] || i.isInstanceOf[RetCountRel] ||
        i.isInstanceOf[RetCollect] ||
        i.isInstanceOf[RetAggProp] || i.isInstanceOf[RetAggRelProp] ||
        i.isInstanceOf[RetCollectRel] ||
        i.isInstanceOf[RetCountProp])
    // canonical output columns, one per aggregate, in item order (the
    // WITH pipeline binds its aggregates to the user aliases instead —
    // ordered by RETURN position, so the positional zip aligns);
    // duplicate-canonical combinations were rejected at parse time, so
    // these equal each item's canonical name
    val aggNames = withSpec.map(_.aliases)
      .getOrElse(globalCanonNames(aggItems))
    // the first aggregate's column — the HAVING filter target and the
    // name single-aggregate callers see
    val aggOut = aggNames.headOption.getOrElse("n_connected")
    // ORDER BY count() resolves to the FIRST count-kind aggregate
    val countOut = aggItems.zip(aggNames).collectFirst {
      case (i, nm) if i.isInstanceOf[RetCount] ||
        i.isInstanceOf[RetCountRel] ||
        i.isInstanceOf[RetCountProp] => nm
    }.getOrElse(aggOut)
    // the WHERE DNF, evaluated against a caller-chosen column mapping: bare
    // node columns on the m-only fast path, m_/c_-prefixed binding columns
    // when a clause references the connected variable. `rhsOf` maps a
    // cross-variable cond's RHS (crossProp, crossOnConn) into the same
    // namespace.
    def dnf(colOf: Cond => Column,
        rhsOf: Cond => Option[Column]): Column =
      conds.map(_.map(c => condCol(c, colOf(c), rhsOf(c)))
        .reduceOption(_ && _)
        .getOrElse(lit(true)))
        .reduceOption(_ || _).getOrElse(lit(true))
    // a cond touches the connected variable on EITHER side of the
    // comparison → the clause must filter bindings, not roots
    val hasConnCond = conds.flatten.exists(c => c.onConn || c.crossOnConn)
    // rootConds ALWAYS gate the root scan (the size() desugar's
    // first-MATCH WHERE), independent of the optional/binding routing
    val rootWhereCol = rootConds
      .map(_.map(c => condCol(c, col(c.prop), c.crossProp.map(col)))
        .reduceOption(_ && _).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(true))
    val basePred = (label.map(col("label") === _).toSeq ++
      props.map { case (k, v) => col(k) === v })
      .reduceOption(_ && _).getOrElse(lit(true)) && rootWhereCol
    // m-only WHERE pushes down to the root scan; a clause touching the
    // connected variable must instead filter the (m, c) bindings after
    // expansion (Cypher filters the whole pattern match) — an m-cond
    // OR-mixed with a c-cond can keep a root the m-cond alone would drop.
    // Under OPTIONAL MATCH the WHERE belongs to the optional clause, so
    // even pure-m conds filter bindings, never roots (Cypher: a root
    // failing the optional WHERE still returns, with null connected cols)
    val bindingWhere = hasConnCond || (optional && conds.nonEmpty)
    val pred =
      if (bindingWhere || optional) basePred
      else basePred && dnf(c => col(c.prop), c => c.crossProp.map(col))
    // RETURN DISTINCT: Cypher's bag → set projection, applied to the
    // projected columns before ordering (a no-op after groupBy aggregates)
    def maybeDistinct(df: DataFrame): DataFrame =
      if (distinct) df.distinct() else df
    // untyped hops follow all downward containment edges; a typed hop
    // pattern restricts the expansion to exactly those relationships
    val relFilter = relColOf(relType)
    val wantsConnected = items.contains(RetConnected)
    // count(), collect(), and the property aggregates take the same
    // grouped-by-root-keys plan shape; only the aggregate expression differs
    val wantsAgg = items.exists(i =>
      i.isInstanceOf[RetCount] || i.isInstanceOf[RetCountRel] ||
        i.isInstanceOf[RetCollect] ||
        i.isInstanceOf[RetAggProp] || i.isInstanceOf[RetAggRelProp] ||
        i.isInstanceOf[RetCollectRel] ||
        i.isInstanceOf[RetCountProp])
    // GLOBAL form: every item an aggregate → no grouping keys, one summary
    // row out of one partial+final hash aggregate (parse() validated the
    // combination rules)
    val globalAgg = items.nonEmpty && items.forall(i =>
      i.isInstanceOf[RetCount] || i.isInstanceOf[RetCountRel] ||
        i.isInstanceOf[RetCollect] ||
        i.isInstanceOf[RetAggProp] || i.isInstanceOf[RetCountRoot] ||
        i.isInstanceOf[RetAggRootProp] || i.isInstanceOf[RetCollectRoot] ||
        i.isInstanceOf[RetAggRelProp] ||
        i.isInstanceOf[RetCollectRel] ||
        i.isInstanceOf[RetCountProp])
    // the engine's deterministic list serialization (sorted comma-join —
    // a raw collect_list would be shuffle-order-dependent)
    def collectCol(src: Column, dk: Boolean): Column = {
      val vals = collect_list(src)
      array_join(array_sort(if (dk) array_distinct(vals) else vals), ",")
    }
    // deterministic output order: the requested ORDER BY keys first, in
    // query order (each mapped onto its output column), then every
    // remaining projected column as a tiebreak — results must be stable
    // for the oracle hash-compare and for any caller diffing runs
    def ordered(df: DataFrame, cols: Seq[String]): DataFrame =
      if (orderBy.isEmpty) df.orderBy(cols.map(col): _*)
      else {
        // the count pseudo-key sorts by the aggregate output column,
        // the type(r) pseudo-key by the relationship-type column
        def outCol(p: String): String =
          if (p == CountKey) countOut
          else if (p == RelTypeKey) "r_type"
          else if (p.startsWith(AggKeyPrefix)) p.stripPrefix(AggKeyPrefix)
          else if (p.startsWith(FnConnKeyPrefix))
            s"c_${p.split(':')(2)}" // fn over the projected c-base column
          else if (p.startsWith(FnKeyPrefix))
            s"m_${p.split(':')(2)}" // fn over the projected m-base column
          else if (p.startsWith(ConnKeyPrefix))
            s"c_${p.stripPrefix(ConnKeyPrefix)}"
          else if (p.startsWith(RelKeyPrefix))
            s"r_${p.stripPrefix(RelKeyPrefix)}"
          else s"m_$p"
        // an unprojected-scalar-fn key sorts by the fn EXPRESSION over
        // its projected base column; every other key by the column itself
        def keyCol(p: String): Column =
          if (p.startsWith(FnConnKeyPrefix) || p.startsWith(FnKeyPrefix))
            scalarColOn(RetPropFn(p.split(':')(1), p.split(':')(2)),
              col(outCol(p)))
          else col(outCol(p))
        val outs = orderBy.map { case (p, _) => outCol(p) }
        // run() validated every ORDER BY key against the projected props;
        // if the two ever drift, fail loudly — silently reordering (with
        // LIMIT, silently changing WHICH rows survive) is the
        // plausible-but-wrong failure this front end refuses to serve
        outs.foreach(out =>
          require(cols.contains(out) || df.columns.contains(out),
            s"ORDER BY key '$out' missing from projected columns " +
              s"(${cols.mkString(", ")}): run() validation and ordered() " +
              "drifted — fix outProps/runMatch in lockstep"))
        val keys = orderBy.map { case (p, desc) =>
          if (desc) keyCol(p).desc else keyCol(p).asc
        }
        df.orderBy(keys ++ cols.filterNot(outs.contains).map(col): _*)
      }
    val base =
      if (hops == 0) {
        val matched0 = g.nodes.filter(pred).toDF()
        // WHERE [NOT] (m)-[...]->([:Label]): semi-join (anti-join under
        // NOT) of the roots against the hop expansion — one distributed
        // join, never a per-root probe. The target-label constraint
        // filters the expansion's node image before the existence check.
        val matched = existsPat.fold(matched0) { ep =>
          val epRel = relColOf(ep.relType)
          ep.threshold match {
            case Some((op, n)) =>
              // degree threshold `size((m)-[:R]->([:L])) <op> N`: the
              // per-root EDGE count (one-hop paths ≡ edges, exactly the
              // size() sugar's binding count), via one partial+final
              // hash aggregate over the edge scan + a left join so
              // zero-degree roots survive ops like `< N`. NOT negates
              // the whole comparison (never-null here — the coalesce
              // makes 0 explicit).
              val e0 = g0.edges.toDF().filter(epRel)
              val e1 = ep.connLabel.fold(e0)(l => e0.join(
                g0.nodes.toDF().filter(col("label") === l)
                  .select(col("id").as("dst")), "dst"))
              val cnts = e1.groupBy(col("src").as("id"))
                .agg(count(lit(1)).as("sz_thresh"))
              val cmp = numCmp(
                coalesce(col("sz_thresh"), lit(0L)).cast("double"),
                op, n.toDouble)
              matched0.join(cnts, Seq("id"), "left_outer")
                .filter(if (ep.negated) !cmp else cmp)
                .drop("sz_thresh")
            case None =>
              // existence needs set membership, not the (root, reachable)
              // pair expansion: walk BACKWARD from the (label-restricted)
              // target set — one semi-join per level, O(|V|) sets
              val hit = GraphOps.reachesWithin(g0, ep.hops, epRel,
                ep.connLabel.map(l => col("label") === l))
              matched0.join(hit, Seq("id"),
                if (ep.negated) "left_anti" else "left_semi")
          }
        }
        if (globalAgg) {
          // hop-less GLOBAL aggregates ("how many X are there"): one hash
          // aggregate over the matched nodes, no grouping keys, one row —
          // partial+final, no join, no sort. Aggregating an EMPTY match
          // still answers one row (count 0, min/max null — Cypher's rule).
          val aggs = items.zip(globalCanonNames(items)).map {
            case (i, nm) =>
              (i match {
                case RetCount(_, _) => count(lit(1)) // count(*)
                case RetCountRoot(dk) =>
                  if (dk) countDistinct(col("id")) else count(col("id"))
                case RetCountProp(dk, p, _) =>
                  if (dk) countDistinct(col(p)) else count(col(p))
                case RetAggRootProp("sum", p) =>
                  coalesce(sum(col(p).try_cast("double")), lit(0d))
                case RetAggRootProp("avg", p) =>
                  avg(col(p).try_cast("double"))
                case RetAggRootProp("min", p) => min(col(p))
                case RetAggRootProp("max", p) => max(col(p))
                case RetCollectRoot(p, dk) => collectCol(col(p), dk)
                case other => throw new IllegalArgumentException(
                  s"unsupported global aggregate item: $other")
              }).as(nm)
          }
          matched.agg(aggs.head, aggs.tail: _*)
        } else if (items.exists(_.isInstanceOf[RetCount])) {
          // hop-less `RETURN m.prop[, ...], count(*)`: group the matched
          // nodes by the projected property values and count members —
          // one hash aggregate, partial+final, no join anywhere. Scalar-
          // fn items (r17) group by the TRANSFORMED value (Cypher groups
          // by the projected expression), named canonically so ORDER BY
          // aliases resolve through the agg: pseudo-namespace.
          val keyPairs: Seq[(String, Column)] = {
            val seen = scala.collection.mutable.LinkedHashMap
              .empty[String, Column]
            items.foreach {
              case RetProp(p) => seen.getOrElseUpdate(s"m_$p", col(p))
              case f: RetPropFn =>
                seen.getOrElseUpdate(s"${f.fn}_${f.prop}", scalarCol(f))
              case _ => ()
            }
            seen.toSeq
          }
          val agged = matched
            .groupBy(keyPairs.map { case (n, c) => c.as(n) }: _*)
            .agg(count(lit(1)).as(aggOut))
            .select(keyPairs.map(_._1).map(col) :+ col(aggOut): _*)
          ordered(agged, keyPairs.map(_._1))
        } else {
          // RETURN m → the full (label, name, content) node image;
          // RETURN m.prop[, ...] → exactly those properties; scalar-fn
          // items project the TRANSFORMED column here, so the DISTINCT
          // and ORDER BY below operate on transformed values (Cypher
          // applies RETURN expressions before dedup/ordering)
          val pairsOut: Seq[(String, Column)] =
            if (items == Seq(RetVar) || items.isEmpty)
              Seq("label", "name", "content").map(c => (s"m_$c", col(c)))
            else {
              val seen = scala.collection.mutable.LinkedHashMap
                .empty[String, Column]
              items.flatMap {
                case RetVar =>
                  Seq("label", "name", "content").map(c => (s"m_$c", col(c)))
                case RetProp(p) => Seq((s"m_$p", col(p)))
                // keys(m)/properties(m): the node-map serializations,
                // computed straight off the matched node's raw columns
                case RetNodeAccessor(fn, false) =>
                  Seq((s"m_$fn", nodeAccessorCol(fn)))
                case f: RetPropFn => Seq((s"${f.fn}_${f.prop}", scalarCol(f)))
                case RetCase(bs, default) =>
                  Seq(("case_result", caseColOf(bs, default)))
                case _ => Seq.empty
              }.foreach { case (n, c) => seen.getOrElseUpdate(n, c) }
              seen.toSeq
            }
          ordered(maybeDistinct(matched.select(
              pairsOut.map { case (n, c) => c.as(n) }: _*).toDF()),
            pairsOut.map(_._1))
        }
      } else {
        val retProps = items.collect { case RetProp(p) => p }
        val connRetProps = items.collect {
          case RetConnProp(p) => p
          case RetCoalesce(p, _) => p
        }
        // coalesce defaults applied to the projected binding columns
        // BEFORE DISTINCT/ORDER BY (Cypher operates on returned values)
        // rel-side defaults join the list too: the r_<p> column was
        // already defaulted on the BINDINGS relation (missing-key
        // nulls), but an unmatched OPTIONAL root's null arrives from
        // the LEFT JOIN after that — default again post-join, same as
        // the c-side (idempotent on already-defaulted rows)
        val coalesceDefaults =
          items.collect { case RetCoalesce(p, d) => (s"c_$p", d) } ++
            items.collect { case RetRelCoalesce(p, d) => (s"r_$p", d) }
        def applyDefaults(df: DataFrame): DataFrame =
          coalesceDefaults.foldLeft(df) { case (acc, (c, d)) =>
            acc.withColumn(c, coalesce(col(c), lit(d)))
          }
        // one expression per aggregate item, named canonically, all
        // evaluated in ONE hash aggregate (partial+final). Semantics per
        // kind: count(DISTINCT c) counts distinct connected NODES by
        // identity (c_id); plain count(c) counts surviving (m, c)
        // bindings; count(*) counts rows (an unmatched OPTIONAL root's
        // null row counts 1 — Cypher); count([DISTINCT] c.prop) counts
        // non-null property VALUES; collect([DISTINCT] c.prop) gathers
        // the bindings' values into the sorted comma-joined `collected`
        // string (collect_list skips left-join nulls, so zero bindings
        // serialize to "" — Cypher's empty list); sum/avg go numeric via
        // try_cast (non-numeric → null, dropped — Cypher's rule; a sum
        // over zero surviving values is 0, Neo4j's sum); min/max keep the
        // property's native string collation and answer null for an
        // unmatched OPTIONAL root.
        val aggCols = aggItems.zip(aggNames).map { case (i, nm) =>
          (i match {
            case RetCount(_, true) => count(lit(1))
            case RetCount(true, _) => countDistinct(col("c_id"))
            case RetCount(false, _) => count(col("c_id"))
            case RetCountRel(true) =>
              // DISTINCT relationships = distinct STORED edges (r_eid),
              // orientation-blind (typedBindings doc)
              countDistinct(col("r_eid"))
            case RetCountRel(false) => count(col("c_id"))
            case RetCountProp(true, p, _) => countDistinct(col(s"c_$p"))
            case RetCountProp(false, p, _) => count(col(s"c_$p"))
            case RetCollect(p, dk) => collectCol(col(s"c_$p"), dk)
            case RetAggProp("sum", p) =>
              coalesce(sum(col(s"c_$p").try_cast("double")), lit(0d))
            case RetAggProp("avg", p) =>
              avg(col(s"c_$p").try_cast("double"))
            case RetAggProp("min", p) => min(col(s"c_$p"))
            case RetAggProp("max", p) => max(col(s"c_$p"))
            case RetAggRelProp("sum", p) =>
              coalesce(sum(col(s"r_$p").try_cast("double")), lit(0d))
            case RetAggRelProp("avg", p) =>
              avg(col(s"r_$p").try_cast("double"))
            case RetAggRelProp("min", p) => min(col(s"r_$p"))
            case RetAggRelProp("max", p) => max(col(s"r_$p"))
            case RetCollectRel(p, dk) => collectCol(col(s"r_$p"), dk)
            case other => throw new IllegalArgumentException(
              s"unsupported aggregate item: $other")
          }).as(nm)
        }
        // the binding columns the aggregates consume (left-joined under
        // OPTIONAL): node identity for counts, the property for the rest
        val aggConnCols = aggItems.flatMap {
          case RetCount(_, true) => Seq.empty[String]
          case _: RetCount => Seq("c_id")
          case RetCountRel(_) => Seq("c_id", "r_type", "r_eid")
          case RetCollect(p, _) => Seq(s"c_$p")
          case RetAggProp(_, p) => Seq(s"c_$p")
          case RetAggRelProp(_, p) => Seq(s"r_$p")
          case RetCollectRel(p, _) => Seq(s"r_$p")
          case RetCountProp(_, p, true) => Seq(s"c_$p")
          case _ => Seq.empty[String]
        }.distinct
        // a bound relationship variable switches the expansion to the
        // single-hop typed-bindings substrate: one row per EDGE (Cypher's
        // true bag semantics — the kernel's min-depth dedup would collapse
        // parallel relationships) carrying the edge's type as `r_type`
        val neigh0 =
          if (hasRelVar) typedBindings(g0, direction, pred, relFilter)
          else GraphOps.neighborhoodWhereKeyed(g, pred, hops, relFilter)
        // RETURN r.prop projections materialize as `r_<prop>` columns on
        // the typed-bindings relation (element_at on the edge-prop map —
        // a missing key projects null, Cypher's rule). Parse guarantees
        // RetRelProp only arises with a bound rel var (= hasRelVar), so
        // `r_props` is always present here when this list is non-empty.
        val relPropCols = (items.collect { case RetRelProp(p) => p } ++
          items.collect { case RetAggRelProp(_, p) => p } ++
          items.collect { case RetCollectRel(p, _) => p }).distinct
        val neigh0b = relPropCols.foldLeft(neigh0)((df, p) =>
          df.withColumn(s"r_$p", element_at(col("r_props"), p)))
        // coalesce(r.prop, 'default'): the defaulted projection shares
        // the r_<prop> canonical column (a co-present bare r.prop would
        // collide there and is rejected by the duplicate-canonical
        // check at parse)
        val neigh1 = items.collect { case RetRelCoalesce(p, d) => (p, d) }
          .foldLeft(neigh0b) { case (df, (p, d)) =>
            df.withColumn(s"r_$p",
              coalesce(element_at(col("r_props"), p), lit(d)))
          }
        // keys(r)/properties(r): deterministic serializations of the
        // edge-prop map, sorted by key (RetRelAccessor doc). Null map
        // (unmatched OPTIONAL binding) → null through every step —
        // map_keys/transform/array_join/concat all propagate null, which
        // is Cypher's keys(null)/properties(null) answer; empty map →
        // ''/'{}' by the same expressions.
        val neigh2 = items.collect { case RetRelAccessor(fn) => fn }
          .distinct.foldLeft(neigh1) {
            case (df, "keys") => df.withColumn("r_keys",
              array_join(array_sort(map_keys(col("r_props"))), ","))
            case (df, _) => df.withColumn("r_properties",
              concat(lit("{"),
                array_join(transform(array_sort(map_keys(col("r_props"))),
                  k => concat(k, lit(": "),
                    element_at(col("r_props"), k))), ", "),
                lit("}")))
          }
        // startNode(r).p / endNode(r).p: the STORED endpoint's property,
        // read through the binding's edge identity (r_eid carries the
        // as-written src/dst — parse guarantees these items only arise
        // on the typed-bindings substrate). One hash join per requested
        // side against the node relation; plans without them are
        // byte-identical to before.
        val neigh3 = {
          val eps = items.collect { case RetEndpoint(st, p) => (st, p) }
            .distinct
          // whole-node sides (r15): serialize via the properties(n)
          // machinery in the SAME per-side join — both forms of one side
          // cost a single hash join
          val wholeSides = items
            .collect { case RetEndpointNode(st) => st }.distinct
          def joinSide(df: DataFrame, start: Boolean): DataFrame = {
            val ps = eps.collect { case (`start`, p) => p }.distinct
            if (ps.isEmpty && !wholeSides.contains(start)) df
            else {
              val side = if (start) "startnode" else "endnode"
              val idc = s"__${side}_id"
              val whole =
                if (wholeSides.contains(start))
                  Seq(nodeAccessorCol("properties")
                    .as(s"${side}_properties"))
                else Seq.empty
              df.join(g0.nodes.toDF().select(col("id").as(idc) +:
                  (ps.map(p => col(p).as(s"${side}_$p")) ++ whole): _*),
                col(s"r_eid.${if (start) "src" else "dst"}") === col(idc))
                .drop(idc)
            }
          }
          joinSide(joinSide(neigh2, start = true), start = false)
        }
        // keys(c)/properties(c): the serialized node map of the connected
        // variable — computed scan-side on the node relation (needs
        // docnbr, which the expansion's node image doesn't carry) and
        // joined on c_id, only when requested
        val connAccCols = items
          .collect { case RetNodeAccessor(fn, true) => fn }.distinct
        val neigh = if (connAccCols.isEmpty) neigh3
          else neigh3.join(g0.nodes.toDF().select(
            col("id").as("c_id") +: connAccCols.map(fn =>
              nodeAccessorCol(fn).as(s"c_$fn")): _*), "c_id")
        // keys(m)/properties(m) under a hop pattern ride the ROOT side
        // (withRootCols/leftJoined compute them in the root select), so
        // an OPTIONAL unmatched root still answers its own keys
        val rootAccFns = items
          .collect { case RetNodeAccessor(fn, false) => fn }.distinct
        val rootAccCols = rootAccFns.map(fn => s"m_$fn")
        // m-side scalar transforms AND searched CASE under a hop (r14,
        // the conn-side symmetry): computed in the ROOT select like the
        // accessors, so they exist before DISTINCT/ORDER BY and survive
        // OPTIONAL
        val rootComputed: Seq[(String, Column)] =
          items.collect { case f: RetPropFn =>
            (s"${f.fn}_${f.prop}", scalarColOn(f, col(f.prop)))
          }.distinct ++
            items.collect { case RetCase(bs, default) =>
              ("case_result", caseColOf(bs, default))
            }
        val rootFnCols = rootComputed.map(_._1)
        def rootExtraCols: Seq[Column] =
          rootAccFns.map(fn => nodeAccessorCol(fn).as(s"m_$fn")) ++
            rootComputed.map { case (n2, c2) => c2.as(n2) }
        // connected-side scalar transforms (RetConnFn): computed on the
        // binding columns below, projected as <fn>_c_<prop>
        val connFnItems = items.collect { case RetConnFn(f) => f }.distinct
        // binding columns the RETURN projection asks for beyond the node
        // image: the traversed edge's type when the query touches
        // type(r), plus any projected edge properties
        val relCols =
          (if (items.contains(RetRelType)) Seq("r_type")
           else Seq.empty) ++
            items.collect { case RetRelProp(p) => s"r_$p" }.distinct ++
            items.collect { case RetRelAccessor(fn) => s"r_$fn" }.distinct ++
            items.collect { case RetEndpoint(st, p) =>
              s"${if (st) "startnode" else "endnode"}_$p" }.distinct ++
            items.collect { case RetEndpointNode(st) =>
              s"${if (st) "startnode" else "endnode"}_properties" }
              .distinct ++
            items.collect { case RetRelCoalesce(p, _) => s"r_$p" }.distinct
        // m properties the binding filter needs beyond what RETURN asks
        // for — a cross-variable cond contributes its m-side property from
        // WHICHEVER side of the comparison it sits on
        val mCondProps =
          if (bindingWhere)
            conds.flatten.filterNot(c => c.onConn || c.onRel).map(_.prop) ++
              conds.flatten.collect {
                case c if c.crossProp.isDefined && !c.crossOnConn =>
                  c.crossProp.get
              }
          else Seq.empty[String]
        // the root columns the RETURN list (and, with a binding-level
        // WHERE, the binding filter) asks for, m_-prefixed; joined back by
        // root id only when the request goes beyond the root's name (which
        // the expansion already carries). With a binding-level WHERE the
        // full DNF is applied here, per (m, c) binding.
        def withRootCols(keys0: Seq[String]): DataFrame = {
          val keys = (keys0 ++ mCondProps).distinct
          val df =
            if (keys == Seq("name") && rootAccFns.isEmpty &&
                rootComputed.isEmpty)
              neigh.withColumnRenamed("root_name", "m_name")
            else neigh.drop("root_name").join(
              g.nodes.filter(pred).select(
                col("id").as("root_id") +:
                  (keys.map(p => col(p).as(s"m_$p")) ++
                    rootExtraCols): _*),
              "root_id")
          if (bindingWhere)
            df.filter(dnf(
              c => if (c.onRelProp) element_at(col("r_props"), c.prop)
                else col(if (c.onRel) "r_type"
                else if (c.onConn) s"c_${c.prop}"
                else s"m_${c.prop}"),
              c => c.crossProp.map(p =>
                col(if (c.crossOnConn) s"c_$p" else s"m_$p"))))
          else df
        }
        // OPTIONAL MATCH: left-outer expansion — every root matching the
        // MATCH pattern survives; the surviving bindings (post-WHERE) are
        // left-joined back on root id, so unmatched roots carry null
        // connected columns (and count 0 bindings)
        def leftJoined(keys: Seq[String], connCols: Seq[String]): DataFrame = {
          val bindings = withRootCols(Seq.empty)
            .select((Seq("root_id") ++ connCols).map(col): _*)
          g.nodes.filter(pred).select(
              col("id").as("root_id") +:
                (keys.map(p => col(p).as(s"m_$p")) ++
                  rootExtraCols): _*)
            .join(bindings, Seq("root_id"), "left")
        }
        if (globalAgg) {
          // GLOBAL aggregates over the hop bindings ("how many Y under all
          // X"): one hash aggregate over the expansion, no grouping keys,
          // one row. count(c) counts bindings, count(DISTINCT c) distinct
          // connected nodes, count(DISTINCT m) distinct matched roots (the
          // semi-join cardinality of "how many X have such a connection"),
          // count(r) on the typed-bindings substrate counts edges.
          val neededConn = items.flatMap {
            case RetCount(_, star) => if (star) Seq.empty else Seq("c_id")
            case RetCountRel(_) => Seq("c_id", "r_type", "r_eid")
            case RetCollect(p, _) => Seq(s"c_$p")
            case RetAggProp(_, p) => Seq(s"c_$p")
            case RetAggRelProp(_, p) => Seq(s"r_$p")
            case RetCollectRel(p, _) => Seq(s"r_$p")
            case RetCountProp(_, p, true) => Seq(s"c_$p")
            case _ => Seq.empty
          }.distinct
          val rows =
            if (optional) leftJoined(Seq.empty, neededConn)
            else withRootCols(Seq.empty)
          val aggs = items.zip(globalCanonNames(items)).map {
            case (i, nm) =>
              (i match {
                case RetCount(_, true) => count(lit(1))
                case RetCount(true, _) => countDistinct(col("c_id"))
                case RetCount(false, _) => count(col("c_id"))
                case RetCountRel(true) =>
                  countDistinct(col("r_eid"))
                case RetCountRel(false) => count(col("c_id"))
                case RetCountRoot(dk) =>
                  if (dk) countDistinct(col("root_id"))
                  else count(col("root_id"))
                case RetCountProp(dk, p, true) =>
                  if (dk) countDistinct(col(s"c_$p"))
                  else count(col(s"c_$p"))
                case RetCollect(p, dk) => collectCol(col(s"c_$p"), dk)
                case RetAggProp("sum", p) =>
                  coalesce(sum(col(s"c_$p").try_cast("double")), lit(0d))
                case RetAggProp("avg", p) =>
                  avg(col(s"c_$p").try_cast("double"))
                case RetAggProp("min", p) => min(col(s"c_$p"))
                case RetAggProp("max", p) => max(col(s"c_$p"))
                case RetAggRelProp("sum", p) =>
                  coalesce(sum(col(s"r_$p").try_cast("double")), lit(0d))
                case RetAggRelProp("avg", p) =>
                  avg(col(s"r_$p").try_cast("double"))
                case RetAggRelProp("min", p) => min(col(s"r_$p"))
                case RetAggRelProp("max", p) => max(col(s"r_$p"))
                case RetCollectRel(p, dk) => collectCol(col(s"r_$p"), dk)
                case other => throw new IllegalArgumentException(
                  s"unsupported global aggregate item: $other")
              }).as(nm)
          }
          rows.agg(aggs.head, aggs.tail: _*)
        } else if (wantsAgg) {
          // RETURN …, count(…)/collect(…): Cypher's grouping rule — every
          // non-aggregate item is a grouping key (RetVar contributes the
          // node's name). A group-by on the root keys, parallel across roots.
          val keys = items.flatMap {
            case RetVar => Seq("name")
            case RetProp(p) => Seq(p)
            case _ => Seq.empty
          }.distinct
          // type(r) is a grouping key too (the schema census `RETURN
          // type(r), count(*)`); it lives on the binding side, so under
          // OPTIONAL it rides the left join with the aggregate column
          val out = keys.map("m_" + _) ++ relCols
          val grouped =
            if (optional) leftJoined(keys, relCols ++ aggConnCols)
            else withRootCols(keys)
          // WITH m, …: group by node IDENTITY (root_id), so two roots that
          // share every projected property value keep separate counts; the
          // id is dropped at projection (Cypher's WITH-then-RETURN shape)
          val groupCols =
            if (withSpec.exists(_.groupIdentity))
              col("root_id") +: out.map(col)
            else out.map(col)
          val agged = grouped.groupBy(groupCols: _*)
            .agg(aggCols.head, aggCols.tail: _*)
          // the WHERE after WITH: a numeric filter on the NAMED aggregate
          // alias — Spark's HAVING, applied post-aggregation. A WHERE
          // that followed the stage's LIMIT instead filters the LIMITED
          // rows (openCypher's order) — deferred to the post-limit tail.
          val havinged = withSpec
            .filterNot(_.havingAfterLimit).flatMap(_.having).fold(agged) {
              case (tgt, op, v) => agged.filter(numCmp(col(tgt), op, v))
            }
          ordered(maybeDistinct(
            havinged.select((out ++ aggNames).map(col): _*)), out)
        } else if (wantsConnected) {
          val keys = if (retProps.nonEmpty) retProps.distinct else Seq("name")
          val connSide =
            relCols ++ Seq("depth", "c_label", "c_name", "c_content") ++
              connAccCols.map("c_" + _)
          val out = keys.map("m_" + _) ++ rootAccCols ++ rootFnCols ++
            connSide
          val rows =
            if (optional) leftJoined(keys, connSide)
            else withRootCols(keys)
          ordered(maybeDistinct(rows.select(out.map(col): _*)), out)
        } else if (connRetProps.nonEmpty || relCols.nonEmpty ||
            connAccCols.nonEmpty || connFnItems.nonEmpty) {
          // RETURN [m.prop, ...,] [type(r),] c.prop[, ...]: one row per
          // surviving (m, c) binding, exactly the requested columns — the
          // expansion already dedupes to min depth per (root, node) pair
          // (one row per EDGE with a bound rel variable), so each binding
          // appears once; equal projected values from DISTINCT bindings
          // stay distinct rows (Cypher's bag semantics) unless RETURN
          // DISTINCT collapses them
          val keys = retProps.distinct
          val cCols = relCols ++ connRetProps.distinct.map("c_" + _) ++
            connAccCols.map("c_" + _)
          val fnOut = connFnItems.map(f => s"${f.fn}_c_${f.prop}")
          // binding columns the transforms read beyond the projected ones
          val fnNeed = connFnItems.map(f => s"c_${f.prop}")
            .filterNot(cCols.contains).distinct
          val out = keys.map("m_" + _) ++ rootAccCols ++ rootFnCols ++
            cCols ++ fnOut
          val rows =
            if (optional) leftJoined(keys, (cCols ++ fnNeed).distinct)
            else withRootCols(keys)
          // transforms computed on the (defaulted) binding columns
          // BEFORE the projection, so DISTINCT/ORDER BY see transformed
          // values (Cypher's rule); null bindings stay null through
          // every transform
          val withFns = connFnItems.foldLeft(applyDefaults(rows)) {
            (df, f) => df.withColumn(s"${f.fn}_c_${f.prop}",
              scalarColOn(f, col(s"c_${f.prop}")))
          }
          ordered(maybeDistinct(withFns.select(out.map(col): _*)), out)
        } else {
          // RETURN m[.prop] with a hop pattern: per Cypher semantics the
          // pattern must MATCH — roots with nothing reachable within k hops
          // (or, under a connected-variable WHERE, with no binding passing
          // it) are not matches, hence the semi-join on the expansion. An
          // OPTIONAL pattern never filters: every root returns as-is.
          val keys =
            if (retProps.nonEmpty) retProps.distinct
            else if (rootAccCols.nonEmpty || rootFnCols.nonEmpty) Seq.empty
            else Seq("label", "name")
          val out = keys.map("m_" + _) ++ rootAccCols ++ rootFnCols
          val roots = g.nodes.filter(pred).select(
            col("id").as("root_id") +:
              (keys.map(p => col(p).as(s"m_$p")) ++ rootExtraCols): _*)
          val kept =
            if (optional) roots
            else {
              val matched =
                if (bindingWhere) withRootCols(Seq.empty) else neigh
              roots.join(matched.select("root_id").distinct(),
                Seq("root_id"), "left_semi")
            }
          ordered(maybeDistinct(kept.select(out.map(col): _*)), out)
        }
      }
    // Cypher pagination: SKIP drops the first n of the ordered rows, LIMIT
    // caps what remains (Dataset.offset composes with limit exactly so)
    val skipped = skip.map(base.offset).getOrElse(base)
    val capped = limit.map(skipped.limit).getOrElse(skipped)
    // openCypher `WITH … ORDER BY … LIMIT … WHERE …`: the WHERE filters
    // the LIMITED rows (Neo4j applies WITH's subclauses in written
    // order); the alias column is still canonical here — renames follow
    val limited = withSpec.filter(_.havingAfterLimit).flatMap(_.having)
      .fold(capped) { case (tgt, op, v) =>
        capped.filter(numCmp(col(tgt), op, v)) }
    // `AS` aliases: a final rename of each item's canonical output column —
    // ordering and dedup already ran on canonical names, so an alias can
    // never change WHICH rows come back, only what they are called
    aliases.foldLeft(limited) { case (df, (from, to)) =>
      if (from == to) df
      else {
        require(df.columns.contains(from),
          s"alias source column '$from' missing from the projection — " +
            "parse-time item validation and runMatch drifted")
        require(!df.columns.contains(to),
          s"alias '$to' collides with another output column")
        df.withColumnRenamed(from, to)
      }
    }
  }
}
