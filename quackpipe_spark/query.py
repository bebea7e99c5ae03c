"""Query path: SQL → pruned file list → Spark SQL → rows (SURVEY §3.2).

Parity with the gigapi-querier flow (ARCHITECTURE.md:2075-2083): resolve
the table's parquet files from the metadata catalog **and the query's time
range**, then execute the SQL against that file list. Two pruning layers:

1. **Index pruning (ours, driver-side)** — `__timestamp` bounds read from
   the statement select only the files whose [min_time, max_time] overlap
   (the reference's "resolve data location based on database, table and
   timerange", README.md:115). At 100 TB this keeps the Spark file listing
   itself small — partition pruning can't help if the driver enumerates
   a million files first.
2. **Catalyst pruning (built-in)** — remaining predicates push into the
   parquet scan (footer stats, partition columns date/hour).

Which tables a statement reads, its bounds, and whether its analyzed plan
may be cached all come from ONE parse of the final text by the session's
own parser (the reference likewise hands whole statements to DuckDB's
parser, ARCHITECTURE.md:1959-1975) — never from scanning SQL text.

Reading via the index file list (not directory glob) is also what makes
compaction safe for readers: during the tombstone window both the merged
output and its inputs exist on disk; the index lists exactly one
generation (json_index.go drop-queue semantics).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from quackpipe_spark.catalog import Catalog, Table
from quackpipe_spark.functions.dialect import register_dialect, rewrite_sql
from quackpipe_spark.plans.index import PartitionIndex

_EPOCH_NS_LIT = re.compile(r"'([^']+)'")


def _ts_literal_ns(lit: str) -> int:
    """A timestamp literal — bare, or quoted inside the reference's
    documented ``epoch_ns('…'::TIMESTAMP)`` idiom (README.md:121) — → ns
    since epoch, read as UTC."""
    from datetime import datetime, timezone

    m = _EPOCH_NS_LIT.search(lit)
    raw = m.group(1) if m else lit
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(raw, fmt).replace(tzinfo=timezone.utc)
            # exact integer arithmetic via timedelta (review r13):
            # int(dt.timestamp()) truncated a fractional PRE-epoch literal
            # toward zero — a sign-flipped bound that pruned files still
            # satisfying the predicate. timedelta floors, never floats.
            td = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
            secs = td.days * 86_400 + td.seconds
            return secs * 1_000_000_000 + td.microseconds * 1000
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp literal: {raw!r}")


# ------------------------------------------------------------ parse tree
#
# parsePlan(sql).toJSON() renders the UNRESOLVED logical plan as a
# pre-order list per tree: each node's children follow it, counted by
# "num-children". Expressions held in a node's fields (a Filter's
# condition, a subquery's plan, a CTE body) are lists of the same form.
# Name sequences arrive as one string, "[db, tbl]".

# roots of a query (SELECT / WITH / VALUES / TABLE / FROM …); anything
# else is a command: spark.sql runs it eagerly, so it is never cached,
# and its reads are never pruned
_QUERY_ROOTS = frozenset(
    "Project Aggregate Filter Sort GlobalLimit LocalLimit Offset Distinct "
    "Deduplicate Union Intersect Except Join LateralJoin UnresolvedHaving "
    "SubqueryAlias UnresolvedRelation Generate RepartitionByExpression "
    "Pivot Unpivot UnresolvedInlineTable LocalRelation OneRowRelation "
    "UnresolvedHint Window".split()
)
# conf changes alter analyzed plans (ansi.enabled, caseSensitive, …)
_CONF_COMMANDS = frozenset({"SetCommand", "ResetCommand", "SetVariable"})
# time-dependent or nondeterministic functions: a cached DataFrame's
# optimized plan is memoized by Spark, so Catalyst's ComputeCurrentTime
# fold would freeze now()/current_date at first execution and rand()/
# uuid() would replay a fixed seed. today()/yesterday() are OUR dialect
# sugar over current_date and freeze the same way (r12).
_VOLATILE_WORDS = frozenset(
    "current_timestamp current_date current_time localtimestamp "
    "current_timezone current_user session_user".split()
)
_VOLATILE_FNS = _VOLATILE_WORDS | frozenset(
    "now curdate rand randn random randstr uniform uuid shuffle "
    "monotonically_increasing_id input_file_name spark_partition_id "
    "today yesterday user current_database current_schema "
    "current_catalog".split()
)
# nodes whose content a cache key can't pin: a sample is random, a
# table function may read anything, IDENTIFIER(…) resolves names late
_UNCACHEABLE = frozenset(
    "Sample UnresolvedTableValuedFunction PlanWithUnresolvedIdentifier "
    "ExpressionWithUnresolvedIdentifier".split()
)
_LOWER_CMP = frozenset({"GreaterThanOrEqual", "GreaterThan"})  # col > lit
_UPPER_CMP = frozenset({"LessThanOrEqual", "LessThan"})
_INT_TYPES = frozenset({"byte", "short", "integer", "long"})
_UTC_ZONES = frozenset({"UTC", "Etc/UTC", "GMT", "+00:00", "Z"})


def _cls(node) -> str:
    return node.get("class", "").rsplit(".", 1)[-1] if isinstance(node, dict) else ""


def _parts(names) -> list[str]:
    """A name sequence as toJSON renders it (``"[db, tbl]"``)."""
    ok = isinstance(names, str) and names[:1] == "[" and names[-1:] == "]"
    return names[1:-1].split(", ") if ok else []


def _decode(v):
    """json.loads output with every pre-order node list nested: a node
    holds its children in ``"_kids"``."""
    if isinstance(v, list):
        if v and isinstance(v[0], dict) and "num-children" in v[0]:
            nodes = [{k: _decode(x) for k, x in raw.items()} for raw in v]
            open_: list[dict] = []
            for node in nodes:
                node["_kids"] = []
                if open_:
                    open_[-1]["_kids"].append(node)
                open_.append(node)
                while open_ and len(open_[-1]["_kids"]) == open_[-1]["num-children"]:
                    open_.pop()
            return nodes[0]
        return [_decode(x) for x in v]
    if isinstance(v, dict):
        return {k: _decode(x) for k, x in v.items()}
    return v


def _split(expr: dict, op: str) -> list[dict]:
    """The operands of a chain of ``op`` nodes (And / Or), iteratively —
    a long WHERE chain is a deep tree."""
    out, todo = [], [expr]
    while todo:
        n = todo.pop()
        if _cls(n) == op:
            todo.extend(reversed(n["_kids"]))
        else:
            out.append(n)
    return out


def _ts_col(node, sql: str) -> str | None:
    """The qualifier ("" when bare) of a ``__timestamp`` column
    reference, else None."""
    if _cls(node) != "UnresolvedAttribute":
        return None
    raw = node["nameParts"]
    parts = _parts(raw)
    if not 1 <= len(parts) <= 2 or parts[-1].lower() != "__timestamp":
        return None
    if len(parts) == 2 and raw[1:-1] in sql:
        # "[q, __timestamp]" is also how ONE backtick-quoted part
        # `q, __timestamp` renders — a different column; refuse whenever
        # the text could hold it
        return None
    return parts[0].lower() if len(parts) == 2 else ""


def _ts_value(node) -> int | None:
    """ns value of a bound operand: an integer literal, or epoch_ns()
    over a timestamp string (literal, cast, or TIMESTAMP literal)."""
    c = _cls(node)
    if c == "Literal" and node.get("dataType") in _INT_TYPES:
        return None if node["value"] is None else int(node["value"])
    if c != "UnresolvedFunction" or _parts(node["nameParts"]) != ["epoch_ns"]:
        return None
    arg = node["_kids"][0] if len(node["_kids"]) == 1 else None
    if _cls(arg) == "Cast" and arg.get("dataType") == "timestamp":
        arg = arg["_kids"][0]
        if arg.get("dataType") != "string":
            return None
    if _cls(arg) != "Literal" or arg.get("dataType") not in ("string", "timestamp"):
        return None
    try:
        return _ts_literal_ns(arg["value"])
    except ValueError:
        return None


def _bound(expr, sql: str) -> tuple[str, int | None, int | None] | None:
    """``(qualifier, lo, hi)`` when ``expr`` is exactly one __timestamp
    comparison against a literal, or a BETWEEN of two."""
    c, kids = _cls(expr), expr["_kids"]
    if c in _LOWER_CMP or c in _UPPER_CMP:
        (col, lit), lower = kids, c in _LOWER_CMP
        if _ts_col(col, sql) is None:  # literal on the left: flip
            col, lit, lower = lit, col, not lower
        q, v = _ts_col(col, sql), _ts_value(lit)
        if q is None or v is None:
            return None
        return (q, v, None) if lower else (q, None, v)
    if c == "UnresolvedFunction" and _parts(expr["nameParts"]) == ["between"]:
        if len(kids) != 3:
            return None
        q, lo, hi = _ts_col(kids[0], sql), _ts_value(kids[1]), _ts_value(kids[2])
        if q is None or lo is None or hi is None:
            return None
        return (q, lo, hi)
    return None


def _filter_bounds(flt: dict, ctes: frozenset, sql: str):
    """``(table, lo, hi)`` per bound a Filter proves about a relation
    directly under it: its child, or a leaf of its child Join tree, each
    optionally under its own alias. Other leaves (derived table, CTE
    reference, sample, generator) take no bound; projections, aggregates,
    ON, HAVING and ORDER BY are never read. An ANDed conjunct that is not
    a recognized bound is ignored, which can only lose pruning."""
    leaves: list[tuple[str | None, str | None]] = []  # (name in scope, table)
    todo = [flt["_kids"][0]]
    while todo:
        n = todo.pop()
        if _cls(n) == "Join":
            todo.extend(n["_kids"])
            continue
        alias = None
        if _cls(n) == "SubqueryAlias":
            alias = n["identifier"]["name"].lower()
            n = n["_kids"][0]
        table = None
        if _cls(n) == "UnresolvedRelation":
            parts = [p.lower() for p in _parts(n["multipartIdentifier"])]
            if parts and not (len(parts) == 1 and parts[0] in ctes):
                table = parts[-1]
            alias = alias or (parts[-1] if parts else None)
        leaves.append((alias, table))
    seen = Counter(a for a, _t in leaves)
    # a name two leaves claim is ambiguous: nothing attributes through it
    scope = {a: t for a, t in leaves if a is not None and seen[a] == 1}
    if len(leaves) == 1:
        scope[""] = leaves[0][1]  # a bare column is the one relation's
    out = []
    for conj in _split(flt["condition"], "And"):
        one = _bound(conj, sql)
        if one is not None:
            table = scope.get(one[0])
            if table is not None:
                out.append((table, one[1], one[2]))
            continue
        # OR of ranges on one relation (r14): prune by the interval-union
        # ENVELOPE — a file outside [min lo, max hi] satisfies no branch
        branches = [_bound(b, sql) for b in _split(conj, "Or")]
        if len(branches) < 2 or None in branches:
            continue
        tables = {scope.get(q) for q, _lo, _hi in branches}
        los = [lo for _q, lo, _hi in branches]
        his = [hi for _q, _lo, hi in branches]
        lo = None if None in los else min(los)
        hi = None if None in his else max(his)
        if len(tables) == 1 and None not in tables and (lo, hi) != (None, None):
            out.append((tables.pop(), lo, hi))
    return out


@dataclass
class ParsedQuery:
    """What the engine needs from one statement's parse tree."""

    root: str  # root node class: "Project", "SetCommand", …
    is_query: bool = False
    # table name (last name part, lowered) → relation entries reading it,
    # counting subqueries, set-op branches and CTE bodies, not CTE refs
    reads: Counter = field(default_factory=Counter)
    bounds: list = field(default_factory=list)  # (table, lo, hi)
    prunable: bool = True
    cacheable: bool = True


def _analyze(tree: dict, sql: str) -> ParsedQuery:
    top = tree
    while _cls(top) in ("UnresolvedWith", "WithWindowDefinition"):
        top = top["_kids"][0]
    pq = ParsedQuery(root=_cls(tree), is_query=_cls(top) in _QUERY_ROOTS)

    def read(parts: list[str], ctes: frozenset) -> None:
        parts = [p.lower() for p in parts]
        if len(parts) == 1 and parts[0] in ctes:
            return  # a CTE reference, not a table read
        if parts:
            pq.reads[parts[-1]] += 1
        # a qualified name resolves in the session catalog, not the view
        pq.cacheable &= len(parts) == 1

    todo: list = [(tree, frozenset())]
    while todo:
        v, ctes = todo.pop()
        if isinstance(v, list):
            todo.extend((x, ctes) for x in v)
            continue
        if not isinstance(v, dict):
            continue
        c = _cls(v)
        if c == "UnresolvedWith":
            names = [r["_1"].lower() for r in v["cteRelations"]]
            recursive = bool(v.get("allowRecursion"))
            pq.prunable &= not recursive
            for i, r in enumerate(v["cteRelations"]):
                # non-recursive: a CTE's own name (and every later one)
                # still means the real table inside its body
                todo.append((r["_2"], ctes | set(names if recursive else names[:i])))
            todo.extend((k, ctes | set(names)) for k in v["_kids"])
            continue
        if "multipartIdentifier" in v:
            read(_parts(v["multipartIdentifier"]), ctes)
        elif c == "PlanWithUnresolvedIdentifier":
            ident = v.get("identifierExpr")
            if _cls(ident) != "Literal" or ident.get("dataType") != "string":
                raise ValueError(
                    "IDENTIFIER() in FROM must name its table with a string "
                    "literal: the engine resolves which table it reads"
                )
            read([p.strip("`") for p in ident["value"].split(".")], ctes)
            pq.prunable = False
        elif c == "Filter":
            pq.bounds.extend(_filter_bounds(v, ctes, sql))
        elif c == "UnresolvedFunction":
            parts = _parts(v["nameParts"])
            name = parts[-1].lower() if parts else ""
            if name in _VOLATILE_FNS or (name == "unix_timestamp" and not v["_kids"]):
                pq.cacheable = False
        elif c == "UnresolvedAttribute":
            # without parentheses these parse as columns, not functions
            pq.cacheable &= v["nameParts"][1:-1].lower() not in _VOLATILE_WORDS
        pq.cacheable &= c not in _UNCACHEABLE
        todo.extend((x, ctes) for k, x in v.items() if isinstance(x, (list, dict)))
    pq.prunable &= pq.is_query
    return pq


def parse_query(spark: SparkSession, sql: str) -> ParsedQuery | None:
    """Parse ``sql`` with the session's own parser (no catalog access).
    None when it does not parse: nothing is pruned or cached, and
    spark.sql raises the parser's error. Raises ValueError for a
    relation named by a non-literal IDENTIFIER() expression."""
    from pyspark.errors import ParseException

    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except ParseException:  # spark.sql raises it again for the caller
        return None
    return _analyze(_decode(json.loads(plan.toJSON())), sql)


def extract_time_bounds_per_table(
    sql: str, tables: list[str], parsed: ParsedQuery | None = None
) -> dict[str, tuple[int | None, int | None]]:
    """Per-table ``(lo, hi)`` from literal ``__timestamp`` predicates
    (see :func:`_filter_bounds`). A table is pruned only when exactly ONE
    relation entry in the whole statement reads it: every read shares its
    one registered view, so one read's bound would silently drop another
    read's rows (self joins, CTE body plus main query, set-op branches,
    subqueries). Commands and ``WITH RECURSIVE`` prune nothing.
    ``parsed`` is the statement's :func:`parse_query` result, parsed
    through the active session when omitted."""
    if parsed is None:
        parsed = parse_query(SparkSession.active(), sql)
    if parsed is None or not parsed.prunable:
        return {}
    canon = {t.lower(): t for t in tables}
    out: dict[str, tuple[int | None, int | None]] = {}
    for t, lo, hi in parsed.bounds:
        if t not in canon or parsed.reads[t] != 1:
            continue
        plo, phi = out.get(canon[t], (None, None))
        lo = plo if lo is None else (lo if plo is None else max(lo, plo))
        hi = phi if hi is None else (hi if phi is None else min(hi, phi))
        out[canon[t]] = (lo, hi)
    return out


def extract_time_bounds(sql: str) -> tuple[int | None, int | None]:
    """The bound of the one table ``sql`` reads, if it reads exactly one."""
    parsed = parse_query(SparkSession.active(), sql)
    if parsed is None or len(parsed.reads) != 1:
        return (None, None)
    [t] = parsed.reads
    return extract_time_bounds_per_table(sql, [t], parsed).get(t, (None, None))


class QueryEngine:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        import threading

        self.spark = spark
        self.catalog = catalog
        # sql() registers per-query pruned temp views under the BARE table
        # name; concurrent /query handler threads would otherwise swap each
        # other's file lists mid-flight (silent missing rows). The lock
        # covers registration + spark.sql() only — Spark analyzes eagerly,
        # so the view's file list is captured before the lock releases and
        # execution/collect proceeds unlocked.
        self._sql_lock = threading.Lock()
        # Bounded LRU of analyzed plans for the /query serving path:
        # (db, rewritten SQL, session tz, per-table pruned FILE LISTS) →
        # DataFrame. Keying on the resolved file lists makes staleness
        # impossible by construction — ingest/compaction changes a
        # table's file set, so the next identical query MISSES and
        # re-analyzes; no invalidation hooks to get wrong. A hit skips
        # parse+analyze+optimize AND (after the first action) Spark's
        # memoized physical plan + AQE adaptation — the per-call
        # compile/schedule floor BASELINE.md pins at ~0.1–0.3 s, while
        # DuckDB re-plans in single-digit ms. bench.py does not route
        # through QueryEngine.sql, so the honest bench still compiles
        # fresh per rep.
        from collections import OrderedDict

        self._plan_cache: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._plan_cache_cap = 64
        # parse_query memo per (text, session tz — TIMESTAMP literals
        # render in it): a parse costs a few ms that repeat panels skip.
        # SET/RESET flush it with the plan cache, since parsing follows
        # other confs too (doubleQuotedIdentifiers, ansi keywords)
        self._parse = functools.lru_cache(maxsize=self._plan_cache_cap)(
            lambda sql, _tz: parse_query(spark, sql)
        )
        register_dialect(spark)
        # epoch_ns('…') literals evaluate in the SESSION timezone inside
        # Catalyst while the pruner parses them as UTC — pin UTC (the
        # engine's time domain) so both agree; if the session rejects the
        # conf (locked-down) and sits non-UTC, disable index pruning
        # rather than prune with mismatched bounds.
        from quackpipe_spark.sources.tables import _ensure_read_confs

        _ensure_read_confs(spark)

    def _tz(self) -> str:
        try:
            return self.spark.conf.get("spark.sql.session.timeZone", "")
        except Exception:
            return ""

    def _plan_cacheable(
        self, query: str, catalog_names: set[str], parsed: ParsedQuery | None = None
    ) -> bool:
        """True when a repeat of ``query`` may serve the cached
        DataFrame: a query, not a command; nothing time-dependent,
        nondeterministic or sampled; and every relation one plain name of
        a catalog table (its file list is in the key) or a CTE — any other
        name is a temp view or path whose contents the key can't pin."""
        if parsed is None:
            parsed = self._parse(query, self._tz())
        return (
            parsed is not None
            and parsed.is_query
            and parsed.cacheable
            and all(t in catalog_names for t in parsed.reads)
        )

    def _prune_ok(self, tz: str | None = None) -> bool:
        """Time pruning is safe only under a UTC session — checked PER
        QUERY, not pinned at init: the session timezone is runtime-mutable
        (a client can SET it through /query), and epoch_ns bound literals
        evaluate in the session zone inside Catalyst while the pruner
        parses them as UTC. Mismatched zones would silently drop files."""
        return (self._tz() if tz is None else tz) in _UTC_ZONES

    def table_files(
        self, table: Table, lo: int | None = None, hi: int | None = None
    ) -> list[str]:
        """Live files from the per-partition indexes, pruned by time range."""
        out = []
        for pdir in table.partition_dirs():
            idx = PartitionIndex.load(pdir)
            for entry in idx.files.values():
                if lo is not None and entry.max_time is not None and entry.max_time < lo:
                    continue
                if hi is not None and entry.min_time is not None and entry.min_time > hi:
                    continue
                out.append(os.path.join(pdir, entry.name))
        return out

    def table_df(
        self,
        table: Table,
        lo: int | None = None,
        hi: int | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        if files is None:
            files = self.table_files(table, lo, hi)
        if not files:
            # empty relation with the table's known schema PLUS the hive
            # partition columns a non-empty read would discover (date
            # inferred DATE, hour inferred INT) — otherwise a query
            # touching `date`/`hour` works only while files match and
            # errors with UNRESOLVED_COLUMN once pruning empties the list
            from quackpipe_spark.types import CANONICAL

            from pyspark.sql.types import (
                DateType,
                IntegerType,
                StructField,
                StructType,
            )

            fields = [
                StructField(c, CANONICAL[t], True) for c, t in table.schema.items()
            ]
            have = set(table.schema)
            for pcol, ptype in zip(table.partition_by, (DateType(), IntegerType())):
                if pcol not in have:
                    fields.append(StructField(pcol, ptype, True))
            return self.spark.createDataFrame([], StructType(fields))
        return (
            self.spark.read.option("mergeSchema", "true")  # union_by_name parity
            .option("basePath", table.path)
            .parquet(*files)
        )

    # read_parquet(<ARRAY[...] | 'path'> [, key = value ...]) — the
    # reference's scan idiom in both forms (merge_service_fs.go:215:
    # read_parquet(ARRAY['…'], hive_partitioning = false,
    # union_by_name = true); README/BENCHMARK single-path form).
    # \b: without it the pattern matched INSIDE longer identifiers — a
    # user UDF my_read_parquet('/p') was intercepted, its path fetched or
    # opened driver-side, and the view splice produced my__rp_<hash>,
    # breaking a valid query (review r12)
    _RP_CALL = re.compile(
        r"\bread_parquet\s*\(\s*(ARRAY\s*\[[^\]]+\]|'[^']+')"
        r"((?:\s*,\s*\w+\s*=\s*(?:'[^']*'|\w+))*)\s*\)",
        re.IGNORECASE,
    )
    _RP_OPT = re.compile(r"(\w+)\s*=\s*('[^']*'|\w+)")
    # one quoted ARRAY element ('' / "" = escaped quote): paths may
    # legally contain commas or quotes, so the element list is extracted
    # by this regex over the ORIGINAL text of the matched span, never by
    # splitting on bare commas (ADVICE r11). Both quote styles parse —
    # Spark treats "..." as a string literal, and the pre-r12 parser
    # accepted it — and anything in the ARRAY body that is NOT a quoted
    # element (or the commas/space between them) raises instead of
    # silently producing an empty or truncated file list.
    _SQ_ELEM = re.compile(r"'((?:[^']|'')*)'|\"((?:[^\"]|\"\")*)\"")

    @classmethod
    def _path_list(cls, src: str) -> list[str]:
        """File paths from a matched source group: ARRAY['a','b',...] or a
        single quoted path, decoded through the scanner's escape
        conventions ('' doubling AND backslash escapes —
        sqltext.unescape_sql_string; an escaped quote INSIDE an ARRAY
        element still desyncs the element split and raises the loud
        could-not-parse error rather than truncating silently)."""
        from quackpipe_spark.sqltext import unescape_sql_string

        if src.upper().startswith("ARRAY"):
            inner = src[src.index("[") + 1 : src.rindex("]")]
            paths: list[str] = []
            spans: list[tuple[int, int]] = []
            for m in cls._SQ_ELEM.finditer(inner):
                sq, dq = m.group(1), m.group(2)
                paths.append(
                    unescape_sql_string(sq)
                    if sq is not None
                    else unescape_sql_string(dq, quote='"')
                )
                spans.append((m.start(), m.end()))
            leftover = "".join(
                inner[e1:s2] for (_, e1), (s2, _) in zip(
                    [(0, 0)] + spans, spans + [(len(inner), len(inner))]
                )
            )
            if not paths or leftover.strip().strip(",").replace(",", "").strip():
                raise ValueError(
                    "read_parquet ARRAY elements must be quoted paths "
                    f"separated by commas; could not parse: {inner!r}"
                )
            return paths
        return [unescape_sql_string(src[1:-1], quote=src[0])]
    # read_parquet_mergetree(ARRAY['f1','f2'], 'col1,col2') — chsql's
    # k-way merge scan of sorted parquet files (merge_service_fs.go:266,
    # merge_service_s3.go:114): reads the union and yields rows ordered
    # by the comma-separated sort columns. The reference invokes it
    # internally for compaction but it is chsql public surface a /query
    # user can issue on their own files; Spark equivalent is a
    # mergeSchema read + Catalyst sort (SURVEY §4 — same plan the
    # compactor uses; Spark's SortExec merges pre-sorted runs after
    # a cheap in-partition check).
    _RPMT_CALL = re.compile(
        r"\bread_parquet_mergetree\s*\(\s*(ARRAY\s*\[[^\]]+\]|'[^']+')"
        r"\s*,\s*('[^']+')\s*\)",
        re.IGNORECASE,
    )

    def sql(self, query: str, db: str = "default") -> DataFrame:
        """Execute dialect-rewritten SQL with tables resolved to pruned
        scans (POST /query handler semantics, README.md:117-133)."""
        # Spark's path-table syntax (parquet.`p`) is single-path and takes
        # no options, so every read_parquet() call becomes a registered
        # view over a reader configured from the DuckDB-style options:
        #   union_by_name  → mergeSchema (default true: the reference
        #                    always reads its stores union_by_name)
        #   hive_partitioning=false → recursiveFileLookup (disables
        #                    partition-column discovery, like DuckDB)
        #   filename       → input_file_name() projected as `filename`
        def _rp_view(m: re.Match, orig: str) -> str:
            from quackpipe_spark.sources.remote import resolve_scan_path

            # m matched on the comment+literal-BLANKED view; the path and
            # option literals are spaces there, so their true text is
            # re-read from the original at the same spans (offsets are
            # preserved by blanking)
            src = orig[m.start(1) : m.end(1)].strip()
            opts = {
                k.lower(): v.strip("'").lower()
                for k, v in self._RP_OPT.findall(orig[m.start(2) : m.end(2)])
            }
            files = [resolve_scan_path(f) for f in self._path_list(src)]
            reader = self.spark.read.option(
                "mergeSchema", opts.get("union_by_name", "true")
            )
            if opts.get("hive_partitioning") == "false":
                reader = reader.option("recursiveFileLookup", "true")
            df = reader.parquet(*files)
            if opts.get("filename") == "true":
                from pyspark.sql import functions as F

                df = df.withColumn("filename", F.input_file_name())
            name = "_rp_" + hashlib.md5(
                ("|".join(files) + repr(sorted(opts.items()))).encode()
            ).hexdigest()[:12]
            df.createOrReplaceTempView(name)
            return name

        def _rpmt_view(m: re.Match, orig: str) -> str:
            from quackpipe_spark.sources.remote import resolve_scan_path

            src = orig[m.start(1) : m.end(1)].strip()
            order = orig[m.start(2) : m.end(2)].strip().strip("'")
            files = [resolve_scan_path(f) for f in self._path_list(src)]
            cols = [c.strip() for c in order.split(",") if c.strip()]
            df = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*files)
                .orderBy(*cols)
            )
            name = "_rpmt_" + hashlib.md5(
                ("|".join(files) + "|" + order).encode()
            ).hexdigest()[:12]
            df.createOrReplaceTempView(name)
            return name

        # read_parquet / read_parquet_mergetree interception matches the
        # BLANKED view of the query (one scanner with the rewriter):
        # a read_parquet('http://…') inside a string literal or a comment
        # is user data / dead text — intercepting it would mutate the
        # literal AND fetch the URL driver-side at registration time (the
        # rewrite_sql hazard, which this pre-pass reproduced until r10)
        from quackpipe_spark.sqltext import blank_noncode

        for pat, mk in ((self._RPMT_CALL, _rpmt_view), (self._RP_CALL, _rp_view)):
            out, last = [], 0
            for m in pat.finditer(blank_noncode(query)):
                out.append(query[last : m.start()])
                out.append(mk(m, query))
                last = m.end()
            out.append(query[last:])
            query = "".join(out)
        query = rewrite_sql(query)
        # ONE parse of the final text decides which catalog tables the
        # statement reads (case-insensitively, like Spark; a name inside a
        # literal or comment is data; IDENTIFIER('t') reads t), their
        # bounds, and cacheability. A text that does not parse registers
        # nothing: spark.sql raises the parser's error.
        tz = self._tz()
        parsed = self._parse(query, tz)
        refs = [
            t
            for t in self.catalog.tables(db)
            if parsed is not None and parsed.reads[t.name.lower()]
        ]
        # Index pruning applies only when it is provably safe: UTC session
        # (bound literals parse as UTC), the bound is attributable to ONE
        # relation (see extract_time_bounds_per_table), and that table's
        # index min/max actually track __timestamp (a custom order_by
        # indexes a different column — comparing time bounds against it
        # would prune the wrong files).
        bounds: dict[str, tuple[int | None, int | None]] = {}
        if self._prune_ok(tz) and refs:
            bounds = extract_time_bounds_per_table(
                query, [t.name for t in refs], parsed
            )
        with self._sql_lock:
            per_table: list[tuple[Table, list[str]]] = []
            for t in refs:
                tracks_ts = (
                    t.order_by[0] if t.order_by else "__timestamp"
                ) == "__timestamp"
                lo, hi = bounds.get(t.name, (None, None)) if tracks_ts else (None, None)
                per_table.append((t, self.table_files(t, lo, hi)))
            key = None
            if parsed is not None and parsed.root in _CONF_COMMANDS:
                # a conf change (ansi.enabled, caseSensitive, …) can alter
                # the semantics of an already-analyzed plan — the key only
                # pins the timezone, so flush everything. (Conf mutations
                # made directly on the SparkSession bypass this engine and
                # are out of scope.)
                self._plan_cache.clear()
                self._parse.cache_clear()
            if self._plan_cacheable(query, {t.name.lower() for t in refs}, parsed):
                from quackpipe_spark.functions.dialect import registry_fingerprint

                key = (
                    db,
                    query,
                    tz,
                    # dialect/UDF registry content hash: a hot-added or
                    # redefined function in-session must not serve a plan
                    # analyzed against the old binding (VERDICT r11 #5)
                    registry_fingerprint(),
                    tuple(
                        # file-list DIGEST pins the scan (the full tuple held
                        # every path string — ~100 bytes × 1500 files × 64
                        # cache entries; an md5 over the sorted list keeps the
                        # staleness-impossible-by-key property at 32 bytes);
                        # schema+partition_by pin the empty-relation DataFrame
                        # shape when no files
                        (
                            t.name,
                            len(files),
                            hashlib.md5(
                                "\n".join(sorted(files)).encode()
                            ).hexdigest(),
                            tuple(t.schema.items()),
                            tuple(t.partition_by),
                        )
                        for t, files in per_table
                    ),
                )
                hit = self._plan_cache.get(key)
                if hit is not None:
                    self._plan_cache.move_to_end(key)
                    return hit
            for t, files in per_table:
                self.table_df(t, files=files).createOrReplaceTempView(t.name)
            df = self.spark.sql(query)
            if key is not None:
                self._plan_cache[key] = df
                if len(self._plan_cache) > self._plan_cache_cap:
                    self._plan_cache.popitem(last=False)
            return df
