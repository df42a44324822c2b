"""Metadata-answered SQL: route manifest-provable ``SELECT``s on
snapshot tables to the :mod:`sources.snapshot` manifest layer — the
optimizer rule warehouses apply before ever scheduling a scan (Spark
itself does this only for COUNT(*) over some V2 sources; Iceberg/Delta
answer from manifest numRecords). At 100 TB the difference is a driver
JSON read vs a cluster-wide scan for a poll a dashboard issues every
minute.

The grammar is deliberately STRICT — a metadata answerer must refuse
what it cannot prove, never approximate it. The answerable statement
shapes; everything else returns ``None`` and the caller falls back to
a real scan:

1. ``SELECT COUNT(*)/COUNT(col)/COUNT(DISTINCT pcol)/MIN(col)/
   MAX(col)/SUM(col)/AVG(col)/APPROX_COUNT_DISTINCT(col)/
   APPROX_QUANTILE(col, p)[, …] FROM t
   [WHERE pcol = lit | pcol IN (…)]`` — counts from the reserved
   ``::n_rows`` stats; null-skipping COUNT(col), SUM, AVG from the
   ``[min, max, nulls]`` and ``col::sum`` entries; extremes from
   ``stats_cols`` statistics (or partition names for the partition
   column); NDV from ``::hll`` register sketches; quantiles from
   ``::hist:<width>`` bucket counts. WHERE is answered only on the
   partition column — equality and IN membership are the predicates
   the manifest proves exactly (IN serves EVERY aggregate:
   counts and sums add, registers max-merge, histograms add, and
   MIN/MAX merge per-member recorded extremes exactly).
2. ``SELECT COUNT(*) FROM t WHERE col <op> lit`` / ``col BETWEEN a
   AND b`` (op ∈ <, <=, >, >=), optionally conjoined as ``pcol = lit
   AND col <range>`` — the stats-proven RANGE count: answered ONLY
   when every (member) partition's recorded [min, max] proves it
   fully inside or fully outside the range (the Iceberg scan-planning
   trick) AND its null count is recorded. Partial overlap refuses —
   or is served by the separate caller-opted HYBRID tier
   (:func:`hybrid_range_count`), which also serves single
   SUM/AVG/MIN/MAX items under a range by scanning only the boundary.
   The IN-conjunction ``pcol IN (…) AND col <range>`` parses too and
   is hybrid-only: the member set restricts the classification
   (non-members never enter the pass); the pure answerer refuses it.
   Both conjunctions compose with GROUP BY pcol (the grouped hybrid
   classifies only member partitions; eqrange + GROUP BY still
   refuses — the member IS the group).
3. ``SELECT pcol[, aggregates…] FROM t [WHERE pcol = lit | pcol IN
   (…)] GROUP BY pcol [HAVING <alias> <op> <num>] [ORDER BY <output
   alias> [ASC|DESC] [LIMIT n]]`` — group ≡ partition, so the
   per-partition entries are exactly the per-group answers; the
   IN-list filters assembled groups (absent members contribute no
   group); HAVING and ORDER BY/LIMIT are provable because the full
   group set is assembled before filtering/ordering (HAVING
   references a numeric aggregate output alias; ties break by the
   group column ascending).
4. ``SELECT DISTINCT pcol FROM t [WHERE pcol = lit | pcol IN (…)]``
   — rewritten to form 3 at parse: the live partition list IS the
   distinct value set (COUNT(DISTINCT pcol) rides form 1 the same
   way, skipping the NULL partition as SQL does).

Every shape composes with SQL time travel — ``FROM t FOR VERSION AS
OF <n>`` / ``FOR TIMESTAMP AS OF '<ts>'`` (the Delta/Iceberg syntax;
timestamps resolve against each commit's recorded ``committed_at``
via :func:`snapshot.resolve_as_of`) — because history is just older
manifests: time travel costs one JSON read. ``extract_as_of`` strips
the clause for callers that fall back to a real scan and need to pin
the view themselves (the CLI's scan path).

Result types come from the table's recorded ``spark_schema``, so a
metadata answer is schema-identical to the scan it replaced — MIN of a
date column is a DATE, not the manifest's ISO string.
"""

from __future__ import annotations

import datetime
import json
import re

from pyspark.sql import DataFrame, SparkSession

from .snapshot import (
    manifest_aggregate,
    manifest_column_count,
    manifest_column_sum,
    manifest_approx_distinct,
    manifest_quantile,
    manifest_group_stats,
    manifest_partition_counts,
    manifest_range_count,
    read_manifest,
)

_STMT = re.compile(
    r"^\s*SELECT\s+(?:(?P<distinct>DISTINCT)\s+)?"
    r"(?P<items>.+?)\s+FROM\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+FOR\s+(?:VERSION\s+AS\s+OF\s+(?P<asof_v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<asof_ts>[^']*)'))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<gcol>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*))?"
    r"(?:\s+HAVING\s+(?P<hcol>[A-Za-z_]\w*)\s*"
    r"(?P<hop><=|>=|<>|=|<|>)\s*(?P<hval>-?\d+(?:\.\d+)?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<ocol>[A-Za-z_]\w*)"
    r"(?:\s+(?P<odir>ASC|DESC))?)?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: Standalone time-travel clause matcher for ARBITRARY statements (the
#: CLI strips it and pins the scan view when the strict grammar
#: refuses) — Delta/Iceberg's SQL time-travel syntax.
_AS_OF = re.compile(
    r"\s+FOR\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']*)')",
    re.IGNORECASE,
)


def extract_as_of(sql: str) -> "tuple[str, dict | None]":
    """Strip one ``FOR VERSION/TIMESTAMP AS OF`` clause from an
    arbitrary statement, returning ``(clean_sql, {"version": n} |
    {"timestamp": s} | None)``. Multiple clauses raise (one table, one
    pin — multi-table time travel needs the API)."""
    # Quote-state guard: a FOR ... AS OF sequence INSIDE a single-quoted
    # string literal (WHERE note = 'FOR VERSION AS OF 3') is data, not a
    # time-travel pin. SQL escapes quotes by doubling (''), which keeps
    # the parity rule exact: a position is inside a literal iff an odd
    # number of quotes precede it.
    hits = [
        m
        for m in _AS_OF.finditer(sql)
        if sql.count("'", 0, m.start()) % 2 == 0
    ]
    if not hits:
        return sql, None
    if len(hits) > 1:
        raise ValueError(
            "multiple FOR ... AS OF clauses — pin one table per "
            "statement (use read_snapshot/register_snapshot_view for "
            "multi-table time travel)"
        )
    m = hits[0]
    spec = (
        {"version": int(m.group("v"))}
        if m.group("v") is not None
        else {"timestamp": m.group("ts")}
    )
    return sql[: m.start()] + sql[m.end():], spec
_ITEM = re.compile(
    r"^\s*(?:COUNT\s*\(\s*\*\s*\)"
    r"|(?P<cdn>COUNT)\s*\(\s*DISTINCT\s+(?P<cdncol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<cnt>COUNT)\s*\(\s*(?P<cntcol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<adc>APPROX_COUNT_DISTINCT)\s*\(\s*(?P<adccol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<aq>APPROX_QUANTILE)\s*\(\s*(?P<aqcol>[A-Za-z_]\w*)\s*,\s*(?P<aqp>\d+)\s*\)"
    r"|(?P<sa>SUM|AVG)\s*\(\s*(?P<sacol>[A-Za-z_]\w*)\s*\)"
    r"|(?P<fn>MIN|MAX)\s*\(\s*(?P<col>[A-Za-z_]\w*)\s*\)"
    r"|(?P<bare>[A-Za-z_]\w*))"
    r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)
_LIT = r"(?:'[^']*'|-?\d+(?:\.\d+)?|true|false)"
_W_EQ = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s*=\s*(?P<val>{_LIT})\s*$",
    re.IGNORECASE,
)
_W_IN = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s+IN\s*\(\s*(?P<vals>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s*$",
    re.IGNORECASE,
)
_LIT_RE = re.compile(_LIT)
_W_CMP = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})\s*$",
    re.IGNORECASE,
)
_W_BETWEEN = re.compile(
    rf"^\s*(?P<col>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<lo>{_LIT})\s+AND\s+(?P<hi>{_LIT})\s*$",
    re.IGNORECASE,
)
#: NULL-membership shape: the null-rate dashboard predicate. COUNT(*)
#: under IS NULL is the recorded per-partition null count summed;
#: under IS NOT NULL it is COUNT(col); same-column aggregates under
#: IS NOT NULL are the plain aggregates (SQL aggregates skip NULLs)
#: and under IS NULL are provable constants (0 / NULL).
_W_NULL = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)

#: Conjunctive NULL-membership: partition equality / IN-membership
#: AND a NULL predicate — "today's null rate". Strictly eq/IN-first.
_W_EQ_NULL = re.compile(
    rf"^\s*(?P<ecol>[A-Za-z_]\w*)\s*=\s*(?P<eval>{_LIT})\s+AND\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)
_W_IN_NULL = re.compile(
    rf"^\s*(?P<icol>[A-Za-z_]\w*)\s+IN\s*\(\s*"
    rf"(?P<ivals>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s+AND\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)

#: Disjunctive window shape: two or more closed BETWEENs on the SAME
#: column OR-ed together — "this week OR the same week last year".
#: Served by the hybrid tier as a union of disjoint intervals (each
#: classified and boundary-scanned independently after merging
#: overlaps); open-ended comparisons in a disjunct refuse to the scan.
#: Range conjoined with a NULL predicate — "COUNT(*) WHERE latency >
#: 500 AND user_id IS NULL" (the data-quality drill-down on a window).
#: Strictly range-first; hybrid-tier only (r9 verdict ask #6b).
_W_RANGE_NULL = re.compile(
    rf"^\s*(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})"
    rf"|(?P<bcol>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<blo>{_LIT})\s+AND\s+(?P<bhi>{_LIT}))"
    rf"\s+AND\s+(?P<ncol>[A-Za-z_]\w*)\s+IS\s+(?P<not>NOT\s+)?NULL\s*$",
    re.IGNORECASE,
)

_W_OR_RANGE = re.compile(
    rf"^\s*[A-Za-z_]\w*\s+BETWEEN\s+{_LIT}\s+AND\s+{_LIT}"
    rf"(?:\s+OR\s+[A-Za-z_]\w*\s+BETWEEN\s+{_LIT}\s+AND\s+{_LIT})+\s*$",
    re.IGNORECASE,
)
_OR_SPLIT = re.compile(r"\s+OR\s+", re.IGNORECASE)
_AND_SPLIT = re.compile(r"\s+AND\s+", re.IGNORECASE)
#: a conjunct CUT SHORT by the split: "col BETWEEN lit" missing its
#: upper bound — the following piece is BETWEEN's own AND-operand
_BTW_DANGLING = re.compile(rf"\bBETWEEN\s+{_LIT}\s*$", re.IGNORECASE)


def _split_and(wtext: str) -> list:
    """Split a WHERE on conjunction ANDs, stitching back the AND that
    belongs to a BETWEEN (``v BETWEEN 100 AND 300`` is ONE atom)."""
    raw = _AND_SPLIT.split(wtext)
    out, i = [], 0
    while i < len(raw):
        p = raw[i]
        if _BTW_DANGLING.search(p) and i + 1 < len(raw):
            p = p + " AND " + raw[i + 1]
            i += 2
        else:
            i += 1
        out.append(p)
    return out


def _parse_conjrange(wtext: str) -> "tuple | None":
    """Parse ``m1 = … AND m2 IN (…) AND col <range>`` — ≥2 eq/IN atoms
    on DISTINCT columns plus exactly ONE range/BETWEEN atom, in any
    order (the 1+1 shapes keep their dedicated eqrange/inrange kinds).
    Returns ``(members, (rng_col, lo, hi, lo_strict, hi_strict))`` or
    None."""
    parts = _split_and(wtext)
    if len(parts) < 3:
        return None
    members, rng, seen = [], None, set()
    for p in parts:
        if (em := _W_EQ.match(p)) is not None:
            col, vals = em.group("col"), [em.group("val")]
        elif (im_ := _W_IN.match(p)) is not None:
            col = im_.group("col")
            vals = [v.group(0) for v in _LIT_RE.finditer(im_.group("vals"))]
        elif (cm := _W_CMP.match(p)) is not None:
            if rng is not None:
                return None  # two ranges: scan decides
            op, val = cm.group("op"), cm.group("val")
            rng = (cm.group("col"),) + (
                (None, val, False, op == "<")
                if op in ("<", "<=")
                else (val, None, op == ">", False)
            )
            continue
        elif (bm := _W_BETWEEN.match(p)) is not None:
            if rng is not None:
                return None
            rng = (bm.group("col"), bm.group("lo"), bm.group("hi"),
                   False, False)
            continue
        else:
            return None
        if col.lower() in seen:
            return None
        seen.add(col.lower())
        members.append((col, vals))
    if rng is None or len(members) < 2 or rng[0].lower() in seen:
        return None
    return members, rng


def _parse_conj(wtext: str) -> "list | None":
    """Parse a conjunction of ≥2 eq / IN atoms on DISTINCT columns —
    ``day = 'd1' AND source IN ('web','api')`` — the multi-component
    restriction of a multi-column partition spec. Returns
    ``[(col, [raw literals]), …]`` or None (any non-eq/IN atom, a
    repeated column, or a literal containing ' AND ' that the naive
    split corrupts simply fails to match → the caller scans)."""
    parts = _split_and(wtext)
    if len(parts) < 2:
        return None
    out, seen = [], set()
    for p in parts:
        if (em := _W_EQ.match(p)) is not None:
            col, vals = em.group("col"), [em.group("val")]
        elif (im_ := _W_IN.match(p)) is not None:
            col = im_.group("col")
            vals = [v.group(0) for v in _LIT_RE.finditer(im_.group("vals"))]
        else:
            return None
        if col.lower() in seen:
            return None  # repeated column: scan decides
        seen.add(col.lower())
        out.append((col, vals))
    return out

#: Conjunctive dashboard shape: partition equality AND one range —
#: "COUNT(*) WHERE day = '2026-08-01' AND latency > 500". Strictly
#: eq-first (the reverse order refuses to the scan).
_W_EQ_RANGE = re.compile(
    rf"^\s*(?P<ecol>[A-Za-z_]\w*)\s*=\s*(?P<eval>{_LIT})\s+AND\s+"
    rf"(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})"
    rf"|(?P<bcol>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<blo>{_LIT})\s+AND\s+(?P<bhi>{_LIT}))\s*$",
    re.IGNORECASE,
)
#: Conjunctive IN-membership AND one range — "COUNT(*) WHERE day IN
#: ('2026-08-01', '2026-08-02') AND latency > 500". Strictly IN-first.
_W_IN_RANGE = re.compile(
    rf"^\s*(?P<icol>[A-Za-z_]\w*)\s+IN\s*\(\s*"
    rf"(?P<ivals>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s+AND\s+"
    rf"(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<|>)\s*(?P<val>{_LIT})"
    rf"|(?P<bcol>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<blo>{_LIT})\s+AND\s+(?P<bhi>{_LIT}))\s*$",
    re.IGNORECASE,
)
# keywords that must not be mistaken for a bare select column (the
# items split sees only commas, so these cannot appear there anyway,
# but guard the bare-column path against e.g. "SELECT all FROM t")
_KEYWORDS = {
    "select", "from", "where", "group", "by", "and", "between",
    "distinct", "having",
}


def parse_metadata_select(sql: str) -> "dict | None":
    """Parse ``sql`` against the strict metadata-answerable grammar.
    Returns ``{"table", "items": [(kind, col, alias)], "where",
    "group_by"}`` — kind is ``count``/``min``/``max``/``group`` (col
    is None for count, the grouped column for ``group``); ``where`` is
    ``None``, ``("eq", col, raw)`` or ``("range", col, lo, hi,
    lo_strict, hi_strict)`` with raw literal strings — or ``None`` if
    the statement is not provably metadata-answerable."""
    m = _STMT.match(sql)
    if not m:
        return None
    gcol = m.group("gcol")
    if m.group("distinct") is not None:
        # SELECT DISTINCT pcol ≡ SELECT pcol GROUP BY pcol — rewrite
        # to the grouped form so form 3 serves it unchanged (zero data
        # pages: the live partition list IS the distinct value set).
        # Strictly ONE bare column; DISTINCT over aggregates or
        # combined with an explicit GROUP BY refuses to the scan.
        if gcol is not None:
            return None
        dm = re.match(
            r"^\s*(?P<col>[A-Za-z_]\w*)"
            r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
            m.group("items"),
            re.IGNORECASE,
        )
        if dm is None or dm.group("col").lower() in _KEYWORDS:
            return None
        gcol = dm.group("col")
    # GROUP BY may name SEVERAL spec components (comma list): the
    # composite-partition rollup of a multi-column spec
    gcols = (
        [c.strip() for c in gcol.split(",")] if gcol is not None else None
    )
    if gcols is not None and len({c.lower() for c in gcols}) != len(gcols):
        return None  # repeated group column: scan decides
    items = []
    n_bare = 0
    # split the select list on TOP-LEVEL commas only — the comma
    # inside APPROX_QUANTILE(col, p) is part of one item
    parts, depth, buf = [], 0, []
    for ch in m.group("items"):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    for raw in parts:
        im = _ITEM.match(raw)
        if not im:
            return None
        bare = im.group("bare")
        if bare is not None:
            # a bare column is only legal as A grouped column
            if (
                gcols is None
                or bare.lower() not in {c.lower() for c in gcols}
                or bare.lower() in _KEYWORDS
            ):
                return None
            n_bare += 1
            items.append(("group", bare, im.group("alias") or bare))
            continue
        if im.group("sa") is not None:
            kind = im.group("sa").lower()
            col = im.group("sacol")
            items.append(
                (kind, col, im.group("alias") or f"{kind}_{col}")
            )
            continue
        if im.group("cdn") is not None:
            col = im.group("cdncol")
            items.append(
                (
                    "cdistinct",
                    col,
                    im.group("alias") or f"count_distinct_{col}",
                )
            )
            continue
        if im.group("cnt") is not None:
            col = im.group("cntcol")
            items.append(
                ("countcol", col, im.group("alias") or f"count_{col}")
            )
            continue
        if im.group("adc") is not None:
            col = im.group("adccol")
            items.append(
                ("approx", col, im.group("alias") or f"approx_distinct_{col}")
            )
            continue
        if im.group("aq") is not None:
            col, qp = im.group("aqcol"), int(im.group("aqp"))
            items.append(
                ("quantile", (col, qp),
                 im.group("alias") or f"approx_q{qp}_{col}")
            )
            continue
        fn = (im.group("fn") or "count").lower()
        col = im.group("col")
        default = "count_star" if fn == "count" else f"{fn}_{col}"
        items.append((fn, col, im.group("alias") or default))
    aliases = [a for _, _, a in items]
    if len(set(aliases)) != len(aliases):
        return None  # ambiguous output names — let a real engine error
    as_of = None
    if m.group("asof_v") is not None:
        as_of = {"version": int(m.group("asof_v"))}
    elif m.group("asof_ts") is not None:
        as_of = {"timestamp": m.group("asof_ts")}
    where = None
    if m.group("where") is not None:
        wtext = m.group("where")
        if (em := _W_EQ.match(wtext)) is not None:
            where = ("eq", em.group("col"), em.group("val"))
        elif (im_ := _W_IN.match(wtext)) is not None:
            vals = [v.group(0) for v in _LIT_RE.finditer(im_.group("vals"))]
            where = ("in", im_.group("col"), vals)
        elif (cm := _W_CMP.match(wtext)) is not None:
            op, val = cm.group("op"), cm.group("val")
            if op in ("<", "<="):
                where = ("range", cm.group("col"), None, val, False, op == "<")
            else:
                where = ("range", cm.group("col"), val, None, op == ">", False)
        elif (bm := _W_BETWEEN.match(wtext)) is not None:
            where = (
                "range",
                bm.group("col"),
                bm.group("lo"),
                bm.group("hi"),
                False,
                False,
            )
        elif (nm := _W_NULL.match(wtext)) is not None:
            where = ("isnull", nm.group("col"), nm.group("not") is not None)
        elif (enm := _W_EQ_NULL.match(wtext)) is not None:
            where = (
                "eqnull",
                enm.group("ecol"),
                [enm.group("eval")],
                enm.group("col"),
                enm.group("not") is not None,
            )
        elif (inm := _W_IN_NULL.match(wtext)) is not None:
            where = (
                "eqnull",
                inm.group("icol"),
                [v.group(0) for v in _LIT_RE.finditer(inm.group("ivals"))],
                inm.group("col"),
                inm.group("not") is not None,
            )
        elif (rnm := _W_RANGE_NULL.match(wtext)) is not None:
            if rnm.group("col") is not None:
                op, val = rnm.group("op"), rnm.group("val")
                rng = (
                    (None, val, False, op == "<")
                    if op in ("<", "<=")
                    else (val, None, op == ">", False)
                )
                rcol = rnm.group("col")
            else:
                rng = (rnm.group("blo"), rnm.group("bhi"), False, False)
                rcol = rnm.group("bcol")
            where = ("rangenull", rcol) + rng + (
                rnm.group("ncol"),
                rnm.group("not") is not None,
            )
        elif _W_OR_RANGE.match(wtext) is not None:
            col0, ivs = None, []
            for part in _OR_SPLIT.split(wtext):
                pm = _W_BETWEEN.match(part)
                if pm is None:
                    return None
                if col0 is None:
                    col0 = pm.group("col")
                elif pm.group("col") != col0:
                    return None  # disjuncts on different columns: scan
                ivs.append((pm.group("lo"), pm.group("hi")))
            where = ("orrange", col0, ivs)
        elif (erm := _W_EQ_RANGE.match(wtext)) is not None:
            if erm.group("col") is not None:
                op, val = erm.group("op"), erm.group("val")
                rng = (
                    (None, val, False, op == "<")
                    if op in ("<", "<=")
                    else (val, None, op == ">", False)
                )
            else:
                rng = (erm.group("blo"), erm.group("bhi"), False, False)
            where = (
                "eqrange",
                erm.group("ecol"),
                erm.group("eval"),
            ) + rng + (erm.group("bcol") or erm.group("col"),)
        elif (irm := _W_IN_RANGE.match(wtext)) is not None:
            if irm.group("col") is not None:
                op, val = irm.group("op"), irm.group("val")
                rng = (
                    (None, val, False, op == "<")
                    if op in ("<", "<=")
                    else (val, None, op == ">", False)
                )
            else:
                rng = (irm.group("blo"), irm.group("bhi"), False, False)
            vals = [
                v.group(0) for v in _LIT_RE.finditer(irm.group("ivals"))
            ]
            where = (
                "inrange",
                irm.group("icol"),
                vals,
            ) + rng + (irm.group("bcol") or irm.group("col"),)
        elif (cr := _parse_conjrange(wtext)) is not None:
            # ≥2 eq/IN atoms + ONE range: the multi-component hybrid
            # shape (day = x AND source = y AND cents BETWEEN a AND b)
            members, rng = cr
            where = ("conjrange", members) + rng[1:] + (rng[0],)
        elif (conj := _parse_conj(wtext)) is not None:
            # conjunction of eq/IN atoms on DISTINCT columns — each
            # restricts its own directory level of a multi-column spec
            where = ("conj", conj)
        else:
            return None  # unsupported predicate: scan
    if gcols is not None:
        if n_bare != len(gcols):
            return None  # every grouped column must appear in the list
        if any(k == "cdistinct" for k, _, _ in items):
            # COUNT(DISTINCT) per group: only the degenerate
            # COUNT(DISTINCT pcol) GROUP BY pcol (= 1 per group) would
            # be provable — not worth a special case; scan decides
            return None
        if len(gcols) > 1:
            # composite GROUP BY: the multi-group answerer serves
            # count/sum/avg/min/max under no WHERE or an eq/IN/conj
            # partition restriction; everything else scans
            if any(
                k not in ("group", "count", "sum", "avg", "min", "max")
                for k, _, _ in items
            ):
                return None
            if where is not None and where[0] not in ("eq", "in", "conj"):
                return None
        elif where is not None and where[0] not in (
            "eq", "in", "range", "inrange", "orrange", "isnull", "eqnull",
            "conj", "conjrange",
        ):
            return None  # eqrange + GROUP BY: the member IS the group
        if where is not None and where[0] in ("isnull", "eqnull"):
            # grouped NULL predicate: per-group null/non-null COUNTs
            # only — other aggregates over the null-filtered rows are
            # cross-column unprovable; scan decides
            if any(k not in ("group", "count") for k, _, _ in items):
                return None
        if where is not None and where[0] in (
            "range", "inrange", "orrange", "conjrange",
        ):
            # range / disjunctive windows + GROUP BY parse ONLY when
            # the grouped hybrid tier can serve every item
            # (count/sum/avg/min/max); the pure-metadata answerer
            # refuses them at answer time
            if any(
                k not in ("group", "count", "sum", "avg", "min", "max")
                for k, _, _ in items
            ):
                return None
    if where is not None and where[0] in (
        "range", "eqrange", "inrange", "orrange", "conjrange"
    ):
        # The MANIFEST proof covers COUNT(*) only (clipped extremes /
        # range-restricted sketches are unprovable), but any list of
        # COUNT(*)/SUM/AVG/MIN/MAX items still PARSES so the hybrid
        # boundary-scan tier can serve it — single items via the
        # per-kind provers, multi-item lists via one shared
        # range_multi_pruned pass; the metadata answerer refuses them
        # at answer time. Sketch items (NDV/quantile/COUNT(col))
        # refuse here as before: no prover serves them under a range.
        if any(
            k in ("approx", "quantile", "countcol", "cdistinct")
            for k, _, _ in items
        ):
            return None
    if where is not None and where[0] == "rangenull":
        # range AND NULL-predicate conjunction: COUNT(*) only (the
        # hybrid tier's cross-column proof covers nothing else)
        if any(k != "count" for k, _, _ in items):
            return None
    having = None
    if m.group("hcol") is not None:
        if gcol is None:
            return None  # HAVING without GROUP BY: scan decides/errors
        hraw = m.group("hval")
        having = (
            m.group("hcol"),
            m.group("hop"),
            float(hraw) if "." in hraw else int(hraw),
        )
    order_by = None
    if m.group("ocol") is not None:
        if gcol is None:
            return None  # ORDER BY on a 1-row answer: meaningless, scan
        order_by = (
            m.group("ocol"),
            (m.group("odir") or "ASC").upper() == "DESC",
        )
    limit = None
    if m.group("limit") is not None:
        if order_by is None:
            return None  # LIMIT without ORDER BY is nondeterministic
        limit = int(m.group("limit"))
    return {
        "table": m.group("table"),
        "items": items,
        "where": where,
        "group_by": (
            gcols[0] if gcols is not None and len(gcols) == 1 else gcols
        ),
        "having": having,
        "order_by": order_by,
        "limit": limit,
        "as_of": as_of,
    }


def _canonical_date(raw: str) -> str:
    """Parse a SQL date literal LENIENTLY (strptime pads '1994-1-5' the
    way CAST would) and re-render it canonically, because every
    manifest comparison — stats entries and hive partition names — is
    lexical over canonical ISO renderings. Unparseable → _Refuse (scan
    fallback), never a silently wrong lexical compare."""
    try:
        return (
            datetime.datetime.strptime(raw, "%Y-%m-%d").date().isoformat()
        )
    except ValueError:
        raise _Refuse()


def _typed_literal(raw: str, coltype: str):
    """Decode a raw SQL literal against a column type, returning the
    manifest-rendering value it compares against — or raise
    ``_Refuse`` on a provability mismatch (quoted literal vs numeric
    column, bare number vs string column, timestamp columns whose ISO
    'T' rendering is not literal-comparable, …)."""
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if raw.startswith("'"):
        if coltype not in ("string", "date"):
            raise _Refuse()  # quoted literal vs non-string/date column
        if coltype == "date":
            # Manifest stats render dates as canonical ISO strings and
            # the proofs compare LEXICALLY, so a non-canonical literal
            # ('1994-1-5') would silently prove the wrong count while a
            # real scan CASTs and answers differently. Canonicalize
            # (strptime tolerates unpadded components, as SQL CAST
            # does) or refuse — never compare a raw date string.
            return _canonical_date(raw[1:-1])
        return raw[1:-1]
    if raw.lower() in ("true", "false"):
        raise _Refuse()  # boolean stats are never recorded (prune-useless)
    if coltype not in numeric:
        raise _Refuse()  # bare number vs string/date/timestamp column
    return float(raw) if ("." in raw or coltype in ("float", "double")) else int(raw)


def _sum_avg_value(kind: str, pair: "tuple"):
    """Decode one (sum, n_nonnull) manifest pair into the SQL answer:
    SUM → the exact integer (None when every value was NULL; refuse
    past int64 — a scan would overflow there too, loudly), AVG → the
    IEEE double sum/n (None when n is 0), computed float(s)/float(n)
    so the DuckDB oracle's CAST(..AS DOUBLE)/CAST(..AS DOUBLE)
    replays it bit-for-bit."""
    sv, nn = pair
    if kind == "sum":
        if sv is not None and abs(int(sv)) > 0x7FFFFFFFFFFFFFFF:
            raise _Refuse()  # past int64: let the scan error honestly
        return None if sv is None else int(sv)
    return None if nn == 0 else float(sv) / float(nn)


class _Refuse(Exception):
    """Internal: this statement is not provably metadata-answerable."""


def _apply_having(out: DataFrame, parsed: dict) -> DataFrame:
    """``HAVING <output alias> <op> <numeric lit>`` on a grouped
    metadata answer. Provable for the same reason ORDER BY/LIMIT is
    (z63): the FULL group set is assembled before the filter, so
    filtering the local frame is exactly the engine's post-aggregate
    HAVING. Strictly numeric aggregate aliases — a HAVING on the group
    column or a MIN/MAX rendering (typed date/string comparisons)
    refuses to the scan; NULL aggregates drop, SQL semantics."""
    having = parsed.get("having")
    if having is None:
        return out
    from pyspark.sql import functions as F

    hcol, hop, hval = having
    numeric = {
        a
        for k, _, a in parsed["items"]
        if k in ("count", "countcol", "sum", "avg", "approx", "quantile")
    }
    if hcol not in numeric:
        raise _Refuse()
    c = F.col(hcol)
    cond = {
        "=": c == hval,
        "<>": c != hval,
        "<": c < hval,
        "<=": c <= hval,
        ">": c > hval,
        ">=": c >= hval,
    }[hop]
    return out.filter(cond)


def answer_from_manifest(
    spark: SparkSession,
    sql: str,
    tables: dict[str, str],
    *,
    version: "int | str | None" = None,
) -> "DataFrame | None":
    """Answer ``sql`` from manifest metadata if its shape allows it and
    its table is in ``tables`` ({name: snapshot path}); else ``None``
    (caller falls back to a real scan). The returned frame has the
    aliases and the SCAN-identical column types (from the table's
    recorded spark_schema)."""
    try:
        return _answer(spark, sql, tables, version)
    except _Refuse:
        return None


def _coerce_partition_literal(raw: str, ptype: str):
    """One raw SQL literal → a typed partition value, with the same
    type-compatibility refusals the eq path has always had (quoted vs
    integral, bare number vs string, fractional vs integral)."""
    if raw.startswith("'"):
        if ptype in ("tinyint", "smallint", "int", "bigint", "boolean"):
            raise _Refuse()
        if ptype == "date":
            # Partition directory names render dates canonically;
            # match _typed_literal: canonicalize or refuse (a
            # non-canonical '1994-1-5' must not silently miss).
            return _canonical_date(raw[1:-1])
        return raw[1:-1]
    if raw.lower() in ("true", "false"):
        if ptype != "boolean":
            raise _Refuse()
        return raw.lower() == "true"
    if ptype not in ("tinyint", "smallint", "int", "bigint"):
        raise _Refuse()
    if "." in raw:
        raise _Refuse()
    return int(raw)


def _coerce_conj(conj: list, spec_types: dict) -> list:
    """Type a parsed conjunction against the spec: every column must
    be a spec component (anything else is not manifest-provable —
    refuse to the scan), literals coerce per the component's recorded
    type. Returns the ``[(col, [typed members]), …]`` form
    snapshot._restrict_parts applies conjunctively."""
    out = []
    for wcol, raws in conj:
        wtype = spec_types.get(wcol)
        if wtype is None:
            raise _Refuse()
        out.append(
            (
                wcol,
                sorted(
                    {_coerce_partition_literal(r, wtype) for r in raws},
                    key=repr,
                ),
            )
        )
    return out


def _resolve_table(parsed: dict, tables: dict, version):
    """Shared statement preamble (one home — it used to be copied into
    every answerer): resolve the table path, fold the statement's
    ``FOR … AS OF`` into the caller's pinned version (raising on a
    double pin), read the manifest's schema metadata, and derive the
    typed field map and the partition-spec types. Returns
    ``(path, version, schema_meta, field_types, spec_types)``."""
    path = tables[parsed["table"]]
    if parsed["as_of"] is not None:
        if version is not None:
            raise ValueError(
                "statement has FOR ... AS OF and the caller also "
                "pinned a version — pick one"
            )
        if "version" in parsed["as_of"]:
            version = parsed["as_of"]["version"]
        else:
            from .snapshot import resolve_as_of

            version = resolve_as_of(path, parsed["as_of"]["timestamp"])
    schema_meta = read_manifest(path, version).get("schema") or {}
    sj = schema_meta.get("spark_schema")
    from pyspark.sql.types import StructType

    field_types = (
        {f.name: f.dataType for f in StructType.fromJson(json.loads(sj)).fields}
        if sj
        else {}
    )
    return path, version, schema_meta, field_types, _spec_types_of(schema_meta)


def _spec_types_of(schema_meta: dict) -> dict:
    """``{spec column: simple type string}`` for the table's partition
    spec — one entry for a legacy single-column table, one per
    component for a multi-column spec. Grammar checks that used to be
    ``col == pcol`` become ``col in spec_types``: eq/IN/GROUP BY are
    provable on ANY spec component (the manifest restriction and
    grouping machinery matches the component's own directory level)."""
    from .snapshot import _spec_meta

    return dict(_spec_meta(schema_meta))


def _local_rows_df(spark, rows, schema) -> DataFrame:
    """LOCAL answer frame that never launches a Python worker:
    plain-list ``spark.createDataFrame`` ships rows through pickled
    RDD slices — a Python-worker launch per job, measured at SECONDS
    per one-row answer under a large local JVM — and a metadata answer
    must never need a Python executor. Small lists (≤64 rows) become a
    pure-JVM literal plan (lit→struct→array→explode — exact types via
    casts); larger ones go through the Arrow path (pandas → Arrow
    batches the JVM consumes directly), because a literal array's plan
    compiles O(rows) and was measured pathological in the thousands.
    One partition by construction — the pinned physical shape for a
    handful of rows (the CartesianProduct-task-storm lesson)."""
    from pyspark.sql import functions as F

    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    if len(rows) > 64:
        import pandas as pd

        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=[f.name for f in schema.fields]
        )
        return spark.createDataFrame(pdf, schema).coalesce(1)
    structs = F.array(
        *[
            F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(r, schema.fields)
                ]
            )
            for r in rows
        ]
    )
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(structs).alias("r"))
        .select("r.*")
    )


def _answer(spark, sql, tables, version) -> "DataFrame | None":
    parsed = parse_metadata_select(sql)
    if parsed is None or parsed["table"] not in tables:
        return None
    # SQL time travel (Delta/Iceberg FOR ... AS OF syntax): the
    # statement pins the version; a caller-side pin on top of it is
    # ambiguous and loud (_resolve_table raises)
    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = schema_meta.get("partition_col")
    ptype = schema_meta.get("partition_type") or "string"
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    where = parsed["where"]
    if isinstance(parsed["group_by"], list):
        return _answer_group_by_multi(
            spark, parsed, path, spec_types, field_types, version
        )
    if parsed["group_by"] is not None:
        return _answer_group_by(
            spark, parsed, path, spec_types, field_types, version
        )
    if where is not None and where[0] in ("isnull", "eqnull"):
        return _answer_isnull(
            spark, parsed, path, spec_types, field_types, version
        )
    if where is not None and where[0] == "range":
        return _answer_range_count(
            spark, parsed, path, pcol, ptype, field_types, schema_meta, version
        )
    if where is not None and where[0] == "eqrange":
        return _answer_eq_range_count(
            spark, parsed, path, pcol, ptype, field_types, schema_meta, version
        )
    if where is not None and where[0] in ("inrange", "conjrange"):
        # conjunctive membership + range: the caller-opted HYBRID tier
        # serves it (one member-restricted classification, one
        # boundary scan; conjrange restricts at EVERY named component)
        raise _Refuse()
    if where is not None and where[0] == "orrange":
        # disjunctive windows: hybrid-only (per-interval passes)
        raise _Refuse()
    if where is not None and where[0] == "rangenull":
        # range AND NULL-predicate conjunction: hybrid-only (the
        # boundary needs a scan)
        raise _Refuse()

    if where is not None and where[0] == "in":
        # IN over a partition-spec column: COUNT(*) = summed member
        # counts (absent member contributes 0, the SQL semantics), NDV
        # = member registers max-merged, quantile = member histograms
        # summed — each an exact manifest merge over the member set
        wcol = where[1]
        wtype = spec_types.get(wcol)
        if wtype is None:
            raise _Refuse()
        vals = {_coerce_partition_literal(r, wtype) for r in where[2]}
        in_spec = (wcol, sorted(vals, key=repr))
        from pyspark.sql.types import DoubleType

        try:
            total = 0
            if any(k == "count" for k, _, _ in parsed["items"]):
                # ONE manifest read (the live partition list)
                # restricted to the member set at the component's own
                # directory level — not a per-member manifest re-parse;
                # an absent member contributes 0, the SQL semantics
                total = sum(
                    n
                    for _v, n in manifest_partition_counts(
                        path,
                        version=version,
                        where_partition=(wcol, list(in_spec[1])),
                        group_col=wcol,
                    )
                )
            values, fields = [], []
            in_casts: dict = {}
            for k, c, alias in parsed["items"]:
                if k == "count":
                    values.append(total)
                    fields.append(StructField(alias, LongType(), False))
                elif k == "countcol":
                    values.append(
                        int(
                            manifest_column_count(
                                path, c, version=version,
                                where_partition_in=in_spec,
                            )
                        )
                    )
                    fields.append(StructField(alias, LongType(), False))
                elif k == "cdistinct":
                    if c not in spec_types:
                        raise _Refuse()  # non-spec exact NDV: scan
                    # distinct values under IN = members present with
                    # live rows (absent member contributes nothing;
                    # NULL can't appear in an IN literal list). ONE
                    # manifest read — the live partition list —
                    # intersected with the member set by canonical
                    # hive name, not a per-member manifest re-parse.
                    # live DISTINCT values of component c among the
                    # member partitions (c may differ from the IN
                    # column on a multi-column spec)
                    values.append(
                        sum(
                            1
                            for v, _n in manifest_partition_counts(
                                path,
                                version=version,
                                where_partition=(wcol, list(in_spec[1])),
                                group_col=c,
                            )
                            if v is not None
                        )
                    )
                    fields.append(StructField(alias, LongType(), False))
                elif k in ("sum", "avg"):
                    pair = manifest_column_sum(
                        path, c, version=version,
                        where_partition_in=in_spec,
                    )
                    values.append(_sum_avg_value(k, pair))
                    fields.append(
                        StructField(
                            alias,
                            LongType() if k == "sum" else DoubleType(),
                            True,
                        )
                    )
                elif k == "approx":
                    values.append(
                        float(
                            manifest_approx_distinct(
                                path, c, version=version,
                                where_partition_in=in_spec,
                            )
                        )
                    )
                    fields.append(StructField(alias, DoubleType(), False))
                elif k in ("min", "max"):
                    # per-member extremes merge EXACTLY: IN restricts
                    # to whole partitions and each member's recorded
                    # [min, max] IS its clipped extreme (renderings
                    # order; absent/empty members contribute nothing).
                    # ONE manifest read over the member set — never a
                    # per-member manifest re-parse.
                    if c not in spec_types and field_types.get(c) is None:
                        raise _Refuse()  # unknown column: scan decides
                    merged = _member_minmax(
                        path, wcol, c, k, in_spec[1], version, spec_types
                    )
                    values.append(None if merged is None else str(merged))
                    fields.append(StructField(alias, StringType(), True))
                    in_casts[alias] = (
                        spec_types[c] if c in spec_types else field_types[c]
                    )
                else:  # quantile
                    values.append(
                        int(
                            manifest_quantile(
                                path, c[0], c[1], version=version,
                                where_partition_in=in_spec,
                            )
                        )
                    )
                    fields.append(StructField(alias, LongType(), False))
        except ValueError:
            raise _Refuse()  # mixed specs / missing sketch / empty set
        frame = _local_rows_df(spark, [tuple(values)], StructType(fields))
        if in_casts:
            from pyspark.sql import functions as F

            frame = frame.select(
                *[
                    F.col(f.name).cast(in_casts[f.name]).alias(f.name)
                    if f.name in in_casts
                    else F.col(f.name)
                    for f in frame.schema.fields
                ]
            )
        return frame
    eq = None
    if where is not None and where[0] == "conj":
        # conjunctive eq/IN on MULTIPLE spec components: one member-set
        # restriction per component, applied at its own directory level
        # by _restrict_parts — every manifest helper below receives the
        # whole conjunction through its where_partition pass-through
        eq = _coerce_conj(where[1], spec_types)
    elif where is not None:
        _, wcol, raw = where
        wtype = spec_types.get(wcol)
        if wtype is None:
            raise _Refuse()  # only spec-column equality is manifest-provable
        eq = (wcol, _coerce_partition_literal(raw, wtype))
    cols = sorted(
        {c for k, c, _ in parsed["items"] if c and k in ("min", "max")}
    )
    try:
        agg = manifest_aggregate(
            path, columns=cols, version=version, where_partition=eq
        )
        approx = {
            c: manifest_approx_distinct(
                path, c, version=version, where_partition=eq
            )
            for k, c, _ in parsed["items"]
            if k == "approx"
        }
        quant = {
            c: manifest_quantile(
                path, c[0], c[1], version=version, where_partition=eq
            )
            for k, c, _ in parsed["items"]
            if k == "quantile"
        }
        ccount = {
            c: manifest_column_count(
                path, c, version=version, where_partition=eq
            )
            for k, c, _ in parsed["items"]
            if k == "countcol"
        }
        csum = {
            c: manifest_column_sum(
                path, c, version=version, where_partition=eq
            )
            for k, c, _ in parsed["items"]
            if k in ("sum", "avg")
        }
        cdn_vals = {}
        for k, c, _ in parsed["items"]:
            if k != "cdistinct":
                continue
            if c not in spec_types:
                # only spec columns' value sets are a manifest fact
                # (the live partition list); any other column's exact
                # NDV needs a scan (APPROX_COUNT_DISTINCT serves the
                # sketch-tolerant caller)
                raise _Refuse()
            # COUNT(DISTINCT <spec col>) = live groups of that
            # component with a non-NULL value (SQL COUNT(DISTINCT)
            # skips NULLs; the NULL partition still forms a
            # DISTINCT/GROUP BY group)
            cdn_vals[c] = sum(
                1
                for v, _n in manifest_partition_counts(
                    path, version=version, where_partition=eq, group_col=c
                )
                if v is not None
            )
    except ValueError:
        # e.g. extremes over merge-on-read tombstoned partitions, a
        # column with no usable stats anywhere, or a missing NDV
        # sketch: not provable → scan
        raise _Refuse()

    from pyspark.sql.types import DoubleType

    values, fields = [], []
    for fn, col, alias in parsed["items"]:
        if fn == "count":
            values.append(agg["n_rows"])
            fields.append(StructField(alias, LongType(), False))
        elif fn == "approx":
            values.append(float(approx[col]))
            fields.append(StructField(alias, DoubleType(), False))
        elif fn == "quantile":
            values.append(int(quant[col]))
            fields.append(StructField(alias, LongType(), False))
        elif fn == "countcol":
            values.append(int(ccount[col]))
            fields.append(StructField(alias, LongType(), False))
        elif fn == "cdistinct":
            values.append(cdn_vals[col])
            fields.append(StructField(alias, LongType(), False))
        elif fn in ("sum", "avg"):
            values.append(_sum_avg_value(fn, csum[col]))
            fields.append(
                StructField(
                    alias,
                    LongType() if fn == "sum" else DoubleType(),
                    True,
                )
            )
        else:
            v = agg["columns"][col][fn]
            dt = field_types.get(col)
            if dt is None:
                return None  # evolved-away or unknown column: real scan
            # manifest values are _stat_json renderings; route through
            # a string cast so dates/timestamps land as their real type
            values.append(None if v is None else str(v))
            fields.append(StructField(alias, StringType(), True))
    row = _local_rows_df(spark, [tuple(values)], StructType(fields))
    from pyspark.sql import functions as F  # noqa: F401

    exprs = []
    for fn, col, alias in parsed["items"]:
        if fn in (
            "count", "approx", "quantile", "countcol", "cdistinct",
            "sum", "avg",
        ):
            exprs.append(F.col(alias))
        else:
            exprs.append(F.col(alias).cast(field_types[col]).alias(alias))
    # ONE partition: createDataFrame slices even a 1-row answer across
    # defaultParallelism, and a caller crossJoining two answers then
    # plans a 32x32 CartesianProduct task storm (measured: three
    # crossJoined answers = thousands of tasks). A metadata answer is
    # a handful of rows; one partition is its correct physical shape.
    return row.select(*exprs).coalesce(1)


def _spark_simple_type(dt) -> str:
    return dt.simpleString() if dt is not None else ""


def _answer_range_count(
    spark, parsed, path, pcol, ptype, field_types, schema_meta, version
):
    if any(k != "count" for k, _, _ in parsed["items"]):
        raise _Refuse()  # aggregates under a range: hybrid tier / scan
    _, col, lo_raw, hi_raw, lo_strict, hi_strict = parsed["where"]
    spec_types = _spec_types_of(schema_meta)
    if col in spec_types:
        coltype = spec_types[col]
    else:
        coltype = _spark_simple_type(field_types.get(col))
        if not coltype:
            raise _Refuse()  # unknown column
        stats_cols = schema_meta.get("stats_cols") or []
        if col not in stats_cols:
            # without recorded stats every partition would need a
            # footer harvest; the provability contract wants the
            # steady-state manifest answer, so refuse → scan
            raise _Refuse()
    lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
    hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    n = manifest_range_count(
        path,
        col,
        lo=lo,
        hi=hi,
        lo_strict=lo_strict,
        hi_strict=hi_strict,
        version=version,
    )
    if n is None:
        return None  # partial overlap / legacy stats: real scan
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [
        StructField(alias, LongType(), False)
        for _, _, alias in parsed["items"]
    ]
    return _local_rows_df(
        spark, [tuple(n for _ in parsed["items"])], StructType(fields)
    )


def _conj_where(where: tuple, spec_types: dict):
    """Unpack a hybrid-tier WHERE — plain ``range``, conjunctive
    ``eqrange`` (pcol = lit AND range) or ``inrange`` (pcol IN (…)
    AND range) — into ``(where_partition, range_col, lo_raw, hi_raw,
    lo_strict, hi_strict)``. The membership side must be A PARTITION
    SPEC column with coercible literals; anything else refuses
    (the full scan decides). An IN-list passes the coerced member
    LIST through ``where_partition`` — `snapshot._eq_targets` expands
    it to the member directory set, so all four provers restrict
    their classification to members with no per-member passes."""
    if where[0] == "eqrange":
        _, ecol, eraw, lo_raw, hi_raw, lo_strict, hi_strict, col = where
        etype = spec_types.get(ecol)
        if etype is None:
            raise _Refuse()
        return (
            (ecol, _coerce_partition_literal(eraw, etype)),
            col, lo_raw, hi_raw, lo_strict, hi_strict,
        )
    if where[0] == "conjrange":
        _, members, lo_raw, hi_raw, lo_strict, hi_strict, col = where
        conj = []
        for mcol, raws in members:
            mtype = spec_types.get(mcol)
            if mtype is None:
                raise _Refuse()
            conj.append(
                (
                    mcol,
                    sorted(
                        {_coerce_partition_literal(r, mtype) for r in raws},
                        key=repr,
                    ),
                )
            )
        return conj, col, lo_raw, hi_raw, lo_strict, hi_strict
    if where[0] == "inrange":
        _, icol, raws, lo_raw, hi_raw, lo_strict, hi_strict, col = where
        itype = spec_types.get(icol)
        if itype is None:
            raise _Refuse()
        vals = sorted(
            {_coerce_partition_literal(r, itype) for r in raws}, key=repr
        )
        return (icol, vals), col, lo_raw, hi_raw, lo_strict, hi_strict
    _, col, lo_raw, hi_raw, lo_strict, hi_strict = where
    return None, col, lo_raw, hi_raw, lo_strict, hi_strict


def hybrid_range_count(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str]",
    *,
    version: "int | str | None" = None,
    explain: bool = False,
) -> "DataFrame | None":
    """The MIDDLE tier between a metadata answer and a full scan:
    a range statement — ``SELECT COUNT(*), SUM(c), AVG(c), MIN(c),
    MAX(c) … FROM t WHERE col <range>``, any item list — answered by
    :func:`snapshot.range_multi_pruned` (``range_group_multi`` under
    GROUP BY pcol): proven partitions from the manifest, ONLY the
    boundary scanned. The WHERE may also be the conjunctive ``pcol =
    lit AND col <range>`` / ``pcol IN (…) AND col <range>`` shapes,
    disjunctive windows, or a range AND NULL-predicate conjunction.
    Returns ``None`` when the statement is not one of those shapes
    (non-range WHERE, unknown table or column) or the literal's type
    is not manifest-comparable — the caller then falls back to a real
    scan. Unlike ``answer_from_manifest`` this DOES read data pages
    (the boundary), so it is a separate, caller-opted tier: the CLI
    applies it after a metadata refusal and before the full scan."""
    parsed = parse_metadata_select(sql)
    if (
        parsed is None
        or parsed["table"] not in tables
        or parsed["where"] is None
        or parsed["where"][0]
        not in (
            "range", "eqrange", "inrange", "orrange", "rangenull",
            "isnull", "eqnull", "conjrange",
        )
        or any(
            k not in ("group", "count", "sum", "avg", "min", "max")
            for k, _, _ in parsed["items"]
        )
    ):
        return None
    if parsed["where"][0] == "rangenull":
        # range AND NULL-predicate conjunction (COUNT(*) only,
        # enforced at parse): composed classifier, boundary scanned
        # with both predicates pushed
        if parsed["group_by"] is not None:
            return None
        return _hybrid_range_null(spark, parsed, tables, version, explain)
    if parsed["where"][0] in ("isnull", "eqnull"):
        # NULL-audit COUNT run to completion: provable partitions from
        # metadata, ONLY the unprovable remainder (tombstones, legacy
        # entries) scanned — the statement the pure tier must refuse
        # whole on any such partition
        return _hybrid_isnull(spark, parsed, tables, version, explain)
    if parsed["group_by"] is not None:
        # GROUP BY pcol + range (or IN+range / OR-windows): grouped tier
        if parsed["where"][0] == "orrange":
            return _hybrid_group_or_range(
                spark, parsed, tables, version, explain
            )
        if parsed["where"][0] not in ("range", "inrange", "conjrange"):
            return None  # eqrange + GROUP BY: the member IS the group
        return _hybrid_group_multi(spark, parsed, tables, version, explain)
    if any(k == "group" for k, _, _ in parsed["items"]):
        return None  # bare column without GROUP BY never parses, but guard
    if parsed["where"][0] == "orrange":
        # disjunctive windows: one classification + boundary scan PER
        # merged disjoint interval, combined exactly (any item list)
        return _hybrid_or_range(spark, parsed, tables, version, explain)
    # one classification and ONE boundary scan shared by every item —
    # a single aggregate is the one-item case of the dashboard shape
    return _hybrid_multi(spark, parsed, tables, version, explain)


def _explain_frame(
    spark, tier, meta_parts, scan_parts, files_scanned, files_total
) -> DataFrame:
    """The EXPLAIN answer shape (see :func:`explain_metadata_sql`):
    one local row — which tier serves the statement and how much I/O
    the plan commits to (partitions answered from metadata vs
    scanned; boundary files opened vs present, where per-file stats
    exist)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return _local_rows_df(
        spark,
        [
            (
                tier,
                int(meta_parts),
                int(scan_parts),
                int(files_scanned),
                int(files_total),
            )
        ],
        StructType(
            [
                StructField("tier", StringType(), False),
                StructField("partitions_metadata", LongType(), False),
                StructField("partitions_scanned", LongType(), False),
                StructField("files_scanned", LongType(), False),
                StructField("files_total", LongType(), False),
            ]
        ),
    )


def explain_metadata_sql(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str]",
    *,
    version: "int | str | None" = None,
) -> DataFrame:
    """EXPLAIN for the metadata-SQL tiers — the scan-planning decision
    as a queryable one-row frame, WITHOUT reading a single data page
    (the boundary scan is skipped via the provers' ``explain_only``;
    the classification that decides it is pure manifest arithmetic):

    - ``tier='metadata'`` — the statement is served entirely from the
      manifest (zero data pages). ``partitions_metadata`` is the
      restricted universe (1 for ``pcol = lit``, the present members
      for ``IN``, all live partitions otherwise).
    - ``tier='hybrid'`` — proven partitions answer from metadata and
      ONLY the boundary scans; the row carries the exact
      classification the real execution will use (same code path,
      scan skipped).
    - ``tier='scan'`` — the shape refuses both tiers; every live
      partition (and every file with recorded per-file stats) would
      be read.

    The routing is THE SAME code the answering path runs
    (:func:`answer_from_manifest` → :func:`hybrid_range_count` →
    scan), so EXPLAIN can never drift from execution — pinned by
    tests that compare these counts against the real provers'."""
    meta = answer_from_manifest(spark, sql, tables, version=version)
    parsed = parse_metadata_select(sql)
    if parsed is not None:
        path = tables.get(parsed["table"])
    else:
        # unparseable shape: still attribute the scan to its table so
        # the partition/file counts are honest
        body, _asof = extract_as_of(sql)
        m = re.search(r"\bFROM\s+([A-Za-z_]\w*)", body, re.IGNORECASE)
        path = tables.get(m.group(1)) if m else None

    def _pin() -> "int | str | None":
        v = version
        if parsed is not None and parsed.get("as_of") is not None and v is None:
            if "version" in parsed["as_of"]:
                v = parsed["as_of"]["version"]
            else:
                from .snapshot import resolve_as_of

                v = resolve_as_of(path, parsed["as_of"]["timestamp"])
        return v

    def _universe() -> int:
        # the live-partition count the statement's WHERE restricts to
        if path is None:
            return 0
        man = read_manifest(path, _pin())
        schema_meta = man.get("schema") or {}
        spec_types = _spec_types_of(schema_meta)
        live = man.get("partitions") or {}
        where = parsed.get("where") if parsed is not None else None
        if (
            where is not None
            and where[0] in ("eq", "in")
            and where[1] in spec_types
        ):
            from .snapshot import _restrict_parts

            wtype = spec_types[where[1]]
            raws = [where[2]] if where[0] == "eq" else list(where[2])
            try:
                vals = [_coerce_partition_literal(r, wtype) for r in raws]
                return len(
                    _restrict_parts(
                        live, schema_meta, where_partition=(where[1], vals)
                    )
                )
            except (_Refuse, ValueError):
                # uncoercible literal / retired-spec directories: the
                # estimate degrades to the full live count, it never
                # crashes an EXPLAIN
                return len(live)
        if where is not None and where[0] in ("conj", "conjrange"):
            # multi-component restriction: the universe is the
            # conjunct-restricted member set
            from .snapshot import _restrict_parts

            try:
                conj = _coerce_conj(where[1], spec_types)
                return len(
                    _restrict_parts(
                        live, schema_meta, where_partition=conj
                    )
                )
            except (_Refuse, ValueError):
                return len(live)
        return len(live)

    if meta is not None:
        return _explain_frame(spark, "metadata", _universe(), 0, 0, 0)
    hyb = hybrid_range_count(
        spark, sql, tables, version=version, explain=True
    )
    if hyb is not None:
        return hyb
    # full scan: every live partition; files where per-file stats are
    # recorded (unrecorded directories read whole either way)
    n_files = 0
    if path is not None:
        man = read_manifest(path, _pin())
        from .snapshot import FILES_KEY

        n_files = sum(
            len((s or {}).get(FILES_KEY) or {})
            for s in (man.get("stats") or {}).values()
        )
    return _explain_frame(spark, "scan", 0, _universe(), n_files, n_files)


def _hybrid_multi(spark, parsed, tables, version, explain=False):
    """Ungrouped single-window branch of :func:`hybrid_range_count`:
    ``SELECT COUNT(*), SUM(x), AVG(x), MIN(y), MAX(y) … WHERE col
    <range>`` (the dashboard statement; one item is the one-item case)
    served by ONE :func:`snapshot.range_multi_pruned` pass — one
    partition classification, one boundary scan shared by every
    aggregate. Refuses (→ scan) on non-partition equality, unknown
    range or aggregated columns (before any scan), and
    type-incomparable literals."""
    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = schema_meta.get("partition_col")
    ptype = schema_meta.get("partition_type") or "string"
    try:
        eq, col, lo_raw, hi_raw, lo_strict, hi_strict = _conj_where(
            parsed["where"], spec_types
        )
    except _Refuse:
        return None  # non-spec membership / uncoercible member: scan
    coltype = (
        spec_types[col]
        if col in spec_types
        else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown column: let the scan engine error
    try:
        lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
        hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    # validate every aggregated column BEFORE the prover runs — an
    # unknown column must refuse without paying a boundary scan
    for kind, agg_col, _alias in parsed["items"]:
        if kind != "count" and agg_col != pcol and agg_col not in field_types:
            return None
    from .snapshot import range_multi_pruned

    try:
        out = range_multi_pruned(
            spark, path, col,
            [(k, c) for k, c, _a in parsed["items"]],
            lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
            version=version, where_partition=eq, explain_only=explain,
        )
        if explain:
            return _explain_frame(
                spark, "hybrid",
                out["meta_partitions"], out["scanned_partitions"],
                out["scanned_files"], out["total_files"],
            )
        return _assemble_multi(
            spark, parsed, out["values"], ptype, pcol, field_types
        )
    except ValueError:
        return None  # mixed-spec / sketch-name guard: full scan decides
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error


def _hybrid_isnull(spark, parsed, tables, version, explain=False):
    """NULL-membership branch of :func:`hybrid_range_count`:
    ``COUNT(*) WHERE col IS [NOT] NULL`` (plain or member-restricted)
    via :func:`snapshot.null_count_pruned` — the pure-metadata
    answerer refuses the WHOLE statement when any partition is
    unprovable (tombstones, legacy 2-element entries, all-NULL
    partitions); this tier answers the provable partitions from
    metadata and scans only the remainder, with the predicate pushed
    (the parquet reader's own null-count statistics then skip
    zero-contribution row groups)."""
    if parsed["group_by"] is not None:
        return None  # grouped null audits stay pure-metadata-or-scan
    if len(parsed["items"]) != 1 or parsed["items"][0][0] != "count":
        return None  # COUNT(*) is the provable shape
    from pyspark.sql.types import LongType, StructField, StructType

    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    w = parsed["where"]
    if w[0] == "isnull":
        ncol, is_not, eq = w[1], w[2], None
    else:
        _, ecol, raws, ncol, is_not = w
        etype = spec_types.get(ecol)
        if etype is None:
            return None  # non-partition membership: scan
        try:
            eq = (
                ecol,
                sorted(
                    {_coerce_partition_literal(r, etype) for r in raws},
                    key=repr,
                ),
            )
        except _Refuse:
            return None
    if ncol not in spec_types and field_types and ncol not in field_types:
        return None  # unknown column: let the scan engine error
    from .snapshot import null_count_pruned

    try:
        out = null_count_pruned(
            spark, path, ncol, is_not=is_not, version=version,
            where_partition=eq, explain_only=explain,
        )
    except ValueError:
        return None  # mixed-spec / sketch-name guard: full scan decides
    if explain:
        return _explain_frame(
            spark, "hybrid",
            out["meta_partitions"], out["scanned_partitions"],
            out["scanned_files"], out["total_files"],
        )
    alias = parsed["items"][0][2]
    return _local_rows_df(
        spark,
        [(out["count"],)],
        StructType([StructField(alias, LongType(), False)]),
    )


def _hybrid_range_null(spark, parsed, tables, version, explain=False):
    """Range AND NULL-predicate conjunction (r9 verdict ask #6b):
    ``COUNT(*) WHERE range_col <range> AND null_col IS [NOT] NULL``
    via :func:`snapshot.range_null_count_pruned` — partitions proven
    fully inside the range with zero range-column nulls answer the
    null predicate from their recorded null counts; only the
    unprovable remainder scans, with BOTH predicates pushed."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    _, rcol, lo_raw, hi_raw, lo_strict, hi_strict, ncol, is_not = (
        parsed["where"]
    )
    coltype = (
        spec_types[rcol]
        if rcol in spec_types
        else _spark_simple_type(field_types.get(rcol))
    )
    if not coltype:
        return None  # unknown range column: let the scan engine error
    if ncol not in field_types and ncol not in spec_types:
        return None  # unknown null column: let the scan engine error
    try:
        lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
        hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    from .snapshot import range_null_count_pruned

    try:
        out = range_null_count_pruned(
            spark, path, rcol, ncol,
            lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
            is_not=is_not, version=version, explain_only=explain,
        )
    except ValueError:
        return None  # sketch-name guard: full scan decides
    if explain:
        return _explain_frame(
            spark, "hybrid",
            out["meta_partitions"], out["scanned_partitions"],
            out["scanned_files"], out["total_files"],
        )
    alias = parsed["items"][0][2]
    return _local_rows_df(
        spark,
        [(out["count"],)],
        StructType([StructField(alias, LongType(), False)]),
    )


def _assemble_multi(spark, parsed, values, ptype, pcol, field_types):
    """One multi-aggregate value list → the typed one-row answer frame
    (shared by the single-window and disjunctive-window paths)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType as _ST,
    )

    fields, row, casts = [], [], {}
    for (kind, agg_col, alias), v in zip(parsed["items"], values):
        if kind == "count":
            fields.append(StructField(alias, LongType(), False))
            row.append(int(v))
        elif kind in ("sum", "avg"):
            fields.append(
                StructField(
                    alias,
                    LongType() if kind == "sum" else DoubleType(),
                    True,
                )
            )
            row.append(_sum_avg_value(kind, v))
        else:  # min/max: manifest rendering → scan type via cast
            dt = ptype if agg_col == pcol else field_types[agg_col]
            fields.append(StructField(alias, StringType(), True))
            row.append(None if v is None else str(v))
            casts[alias] = dt
    frame = _local_rows_df(spark, [tuple(row)], _ST(fields))
    if casts:
        frame = frame.select(
            *[
                F.col(f.name).cast(casts[f.name]).alias(f.name)
                if f.name in casts
                else F.col(f.name)
                for f in frame.schema.fields
            ]
        )
    return frame


def _hybrid_or_range(spark, parsed, tables, version, explain=False):
    """DISJUNCTIVE-window branch of :func:`hybrid_range_count`:
    ``… WHERE col BETWEEN a AND b OR col BETWEEN c AND d`` — "this
    week OR the same week last year". The typed windows MERGE into
    disjoint closed intervals (overlaps/containment collapse; an
    empty ``lo > hi`` window contributes nothing, SQL BETWEEN
    semantics), then each interval runs its own
    :func:`snapshot.range_multi_pruned` pass and the per-interval
    aggregates combine EXACTLY — disjointness makes COUNT/SUM add and
    MIN/MAX merge with no double counting. At 100 TB each window's
    boundary is O(1) partitions on a clustered table, so k windows
    cost k tiny boundary scans, not one full scan of everything in
    between — precisely what a date-window disjunction over a time-
    partitioned fact wants. A partition straddling the GAP between
    two merged windows is boundary for both (scanned once per
    interval — explain counts scan TASKS, not distinct partitions)."""
    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = schema_meta.get("partition_col")
    ptype = schema_meta.get("partition_type") or "string"
    col = parsed["where"][1]
    coltype = (
        ptype if col == pcol else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown column: let the scan engine error
    try:
        typed = [
            (_typed_literal(lo, coltype), _typed_literal(hi, coltype))
            for lo, hi in parsed["where"][2]
        ]
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    for kind, agg_col, _alias in parsed["items"]:
        if kind != "count" and agg_col != pcol and agg_col not in field_types:
            return None  # unknown aggregated column: scan decides
    # merge into disjoint closed intervals (BETWEEN lo > hi = empty)
    ivs = sorted((lo, hi) for lo, hi in typed if not lo > hi)
    merged: list = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    from .snapshot import range_multi_pruned

    items = [(k, c) for k, c, _a in parsed["items"]]
    try:
        outs = [
            range_multi_pruned(
                spark, path, col, items, lo=lo, hi=hi,
                version=version, explain_only=explain,
            )
            for lo, hi in merged
        ]
    except ValueError:
        return None  # mixed-spec / sketch-name guard: full scan decides
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error
    if explain:
        return _explain_frame(
            spark, "hybrid",
            sum(o["meta_partitions"] for o in outs),
            sum(o["scanned_partitions"] for o in outs),
            sum(o["scanned_files"] for o in outs),
            sum(o["total_files"] for o in outs),
        )
    # combine per-interval aggregates — exact because intervals are
    # disjoint: counts/sums add, MIN/MAX merge, AVG re-derives from
    # the combined (sum, n) pair
    values = []
    for i, (kind, _c) in enumerate(items):
        per = [o["values"][i] for o in outs]
        if kind == "count":
            values.append(sum(int(v) for v in per))
        elif kind in ("sum", "avg"):
            tot, n, seen = 0, 0, False
            for v in per:
                s, vn = v
                if s is not None:
                    tot += int(s)
                    seen = True
                n += int(vn)
            values.append((tot if seen else None, n))
        elif kind == "min":
            cand = [v for v in per if v is not None]
            values.append(min(cand) if cand else None)
        else:
            cand = [v for v in per if v is not None]
            values.append(max(cand) if cand else None)
    return _assemble_multi(spark, parsed, values, ptype, pcol, field_types)


def _hybrid_group_multi(spark, parsed, tables, version, explain=False):
    """GROUPED branch of :func:`hybrid_range_count`: ``SELECT pcol,
    COUNT(*), SUM(x), AVG(x), MIN(y), MAX(y) … WHERE col <range>
    GROUP BY pcol`` served by ONE :func:`snapshot.range_group_multi`
    pass — per-group metadata for interior partitions, one grouped
    boundary scan for the edges. Group values come back in the
    column's recorded type (string-render → cast, the same route as
    `_answer_group_by` — scan-identical schema). ORDER
    BY <output alias> [DESC] LIMIT k applies on the assembled frame —
    the full group set exists before ordering, ties break by the
    group column ascending (the z63 discipline), so "top-k days by
    revenue in this key range" serves end-to-end."""
    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = schema_meta.get("partition_col")
    ptype = schema_meta.get("partition_type") or "string"
    if pcol is None or parsed["group_by"] != pcol:
        return None  # only the partition column groups at the manifest
    try:
        eq, col, lo_raw, hi_raw, lo_strict, hi_strict = _conj_where(
            parsed["where"], spec_types
        )
    except _Refuse:
        return None  # non-spec membership / uncoercible member: scan
    coltype = (
        spec_types[col]
        if col in spec_types
        else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown range column: let the scan engine error
    try:
        lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
        hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    except _Refuse:
        return None
    for kind, agg_col, _alias in parsed["items"]:
        if (
            kind in ("sum", "avg", "min", "max")
            and agg_col != pcol
            and agg_col not in field_types
        ):
            return None  # unknown aggregated column: refuse pre-scan
    if parsed.get("order_by") is not None:
        # validate the ORDER BY alias BEFORE the prover pays the
        # grouped boundary scan — a post-scan refusal would throw the
        # boundary I/O away and hand the statement to a second, full
        # scan (every other refusal here is pre-scan for this reason)
        if parsed["order_by"][0] not in [a for _, _, a in parsed["items"]]:
            return None  # ORDER BY names a non-output column
    from .snapshot import range_group_multi

    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    try:
        out = range_group_multi(
            spark, path, col, items,
            lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
            version=version, where_partition=eq, explain_only=explain,
        )
        if explain:
            return _explain_frame(
                spark, "hybrid",
                out["meta_partitions"], out["scanned_partitions"],
                out["scanned_files"], out["total_files"],
            )
        return _assemble_grouped(
            spark, parsed, out["groups"], pcol, ptype, field_types
        )
    except ValueError:
        return None  # mixed-spec / unpartitioned / sketch guard: scan
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error


def _assemble_grouped(spark, parsed, groups, pcol, ptype, field_types):
    """Assemble a grouped hybrid answer frame from ``groups`` =
    ``[(group value, [per-item values]), …]`` (range_group_multi's
    shape): scan-identical group typing (string render → cast, the
    form-3 contract), then HAVING, then ORDER BY <output alias> with
    the group-asc tie-break and LIMIT (the z63 discipline)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType as _ST,
    )

    fields, casts = [], {}
    for kind, agg_col, alias in parsed["items"]:
        if kind == "group":
            # scan-identical group type (the form-3 contract): the
            # string rendering routes through the same cast as
            # _answer_group_by, so a LONG partition column comes
            # back LONG, not the manifest's directory-name string
            fields.append(StructField(alias, StringType(), True))
            casts[alias] = field_types.get(pcol) or ptype
        elif kind == "count":
            fields.append(StructField(alias, LongType(), False))
        elif kind in ("sum", "avg"):
            fields.append(
                StructField(
                    alias,
                    LongType() if kind == "sum" else DoubleType(),
                    True,
                )
            )
        else:
            dt = ptype if agg_col == pcol else field_types[agg_col]
            fields.append(StructField(alias, StringType(), True))
            casts[alias] = dt
    rows = []
    for gval, vals in groups:
        it = iter(vals)
        row = []
        for kind, agg_col, alias in parsed["items"]:
            if kind == "group":
                row.append(None if gval is None else str(gval))
                continue
            v = next(it)
            if kind == "count":
                row.append(int(v))
            elif kind in ("sum", "avg"):
                row.append(_sum_avg_value(kind, v))
            else:
                row.append(None if v is None else str(v))
        rows.append(tuple(row))
    frame = _local_rows_df(spark, rows, _ST(fields))
    if casts:
        frame = frame.select(
            *[
                F.col(f.name).cast(casts[f.name]).alias(f.name)
                if f.name in casts
                else F.col(f.name)
                for f in frame.schema.fields
            ]
        )
    frame = _apply_having(frame, parsed)
    if parsed.get("order_by") is not None:
        # the full group set is assembled — ordering the local
        # frame proves itself; group-asc tie-break (z63)
        ocol, desc = parsed["order_by"]
        out_aliases = [a for _, _, a in parsed["items"]]
        if ocol not in out_aliases:
            return None  # ORDER BY names a non-output column
        gcol_alias = next(
            a for k, _, a in parsed["items"] if k == "group"
        )
        key = F.col(ocol).desc() if desc else F.col(ocol).asc()
        frame = frame.orderBy(key, F.col(gcol_alias).asc())
        if parsed.get("limit") is not None:
            frame = frame.limit(parsed["limit"])
    return frame


def _hybrid_group_or_range(spark, parsed, tables, version, explain=False):
    """Grouped DISJUNCTIVE windows (r9 verdict ask #6a): ``SELECT
    pcol, COUNT(*), SUM(x), … WHERE col BETWEEN a AND b OR col BETWEEN
    c AND d GROUP BY pcol`` — the per-interval discipline of
    :func:`_hybrid_or_range` composed with the grouped prover: the
    typed windows merge into disjoint closed intervals, each interval
    runs its own :func:`snapshot.range_group_multi` pass, and the
    per-interval GROUP results merge EXACTLY (disjointness: counts and
    sums add, extremes nest, AVG re-derives from the combined pair; a
    group absent from an interval simply contributes nothing). At
    100 TB this is k tiny grouped boundary scans for k windows on a
    clustered table, never a scan of the gap between them."""
    path, version, schema_meta, field_types, spec_types = _resolve_table(
        parsed, tables, version
    )
    pcol = schema_meta.get("partition_col")
    ptype = schema_meta.get("partition_type") or "string"
    if pcol is None or parsed["group_by"] != pcol:
        return None  # only the partition column groups at the manifest
    col = parsed["where"][1]
    coltype = (
        spec_types[col]
        if col in spec_types
        else _spark_simple_type(field_types.get(col))
    )
    if not coltype:
        return None  # unknown range column: let the scan engine error
    try:
        typed = [
            (_typed_literal(lo, coltype), _typed_literal(hi, coltype))
            for lo, hi in parsed["where"][2]
        ]
    except _Refuse:
        return None  # type-incomparable literal: full scan decides
    for kind, agg_col, _alias in parsed["items"]:
        if (
            kind in ("sum", "avg", "min", "max")
            and agg_col != pcol
            and agg_col not in field_types
        ):
            return None  # unknown aggregated column: refuse pre-scan
    if parsed.get("order_by") is not None:
        if parsed["order_by"][0] not in [a for _, _, a in parsed["items"]]:
            return None  # ORDER BY names a non-output column
    # merge into disjoint closed intervals (BETWEEN lo > hi = empty)
    ivs = sorted((lo, hi) for lo, hi in typed if not lo > hi)
    merged: list = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    from .snapshot import range_group_multi

    items = [(k, c) for k, c, _a in parsed["items"] if k != "group"]
    try:
        outs = [
            range_group_multi(
                spark, path, col, items, lo=lo, hi=hi,
                version=version, explain_only=explain,
            )
            for lo, hi in merged
        ]
    except ValueError:
        return None  # mixed-spec / unpartitioned / sketch guard: scan
    except _Refuse:
        return None  # int64 overflow on SUM: a scan must decide/error
    if explain:
        return _explain_frame(
            spark, "hybrid",
            sum(o["meta_partitions"] for o in outs),
            sum(o["scanned_partitions"] for o in outs),
            sum(o["scanned_files"] for o in outs),
            sum(o["total_files"] for o in outs),
        )
    # exact cross-interval group merge (disjoint windows): counts and
    # (sum, n) pairs add, extremes nest; group order = value render
    # (the same sorted-by-partition-name order each pass emits)
    acc: dict = {}
    order: list = []
    for o in outs:
        for gval, vals in o["groups"]:
            key = (gval is None, None if gval is None else str(gval))
            if key not in acc:
                acc[key] = [gval, list(vals)]
                order.append(key)
                continue
            cur = acc[key][1]
            for i, (kind, _c) in enumerate(items):
                if kind == "count":
                    cur[i] = int(cur[i]) + int(vals[i])
                elif kind in ("sum", "avg"):
                    s0, n0 = cur[i]
                    s1, n1 = vals[i]
                    tot = None
                    if s0 is not None or s1 is not None:
                        tot = int(s0 or 0) + int(s1 or 0)
                    cur[i] = (tot, int(n0) + int(n1))
                elif kind == "min":
                    if vals[i] is not None:
                        cur[i] = (
                            vals[i]
                            if cur[i] is None
                            else min(cur[i], vals[i])
                        )
                else:  # max
                    if vals[i] is not None:
                        cur[i] = (
                            vals[i]
                            if cur[i] is None
                            else max(cur[i], vals[i])
                        )
    groups = [tuple(acc[k]) for k in sorted(order)]
    try:
        return _assemble_grouped(
            spark, parsed, groups, pcol, ptype, field_types
        )
    except _Refuse:
        # e.g. a HAVING alias that is not an output column, or a
        # merged SUM past int64 — the scan tier must decide/error
        # (mirrors _hybrid_group_multi, whose assembly sits inside
        # its try)
        return None


def _answer_eq_range_count(
    spark, parsed, path, pcol, ptype, field_types, schema_meta, version
):
    """The conjunctive shape: partition equality restricts the
    universe, the range proof runs over just the member partition —
    both halves exact, so the COUNT is (manifest_range_count with
    where_partition)."""
    if any(k != "count" for k, _, _ in parsed["items"]):
        raise _Refuse()  # aggregates under a range: hybrid tier / scan
    _, ecol, eraw, lo_raw, hi_raw, lo_strict, hi_strict, rcol = (
        parsed["where"]
    )
    spec_types = _spec_types_of(schema_meta)
    etype = spec_types.get(ecol)
    if etype is None:
        raise _Refuse()  # only spec-column equality is provable
    eq = (ecol, _coerce_partition_literal(eraw, etype))
    if rcol in spec_types:
        coltype = spec_types[rcol]
    else:
        coltype = _spark_simple_type(field_types.get(rcol))
        if not coltype:
            raise _Refuse()
        stats_cols = schema_meta.get("stats_cols") or []
        if rcol not in stats_cols:
            raise _Refuse()
    lo = _typed_literal(lo_raw, coltype) if lo_raw is not None else None
    hi = _typed_literal(hi_raw, coltype) if hi_raw is not None else None
    n = manifest_range_count(
        path, rcol,
        lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict,
        version=version, where_partition=eq,
    )
    if n is None:
        return None  # partial overlap in the member partition: scan
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [
        StructField(alias, LongType(), False)
        for _, _, alias in parsed["items"]
    ]
    return _local_rows_df(
        spark, [tuple(n for _ in parsed["items"])], StructType(fields)
    )


def _member_minmax(path, mcol, c, kind, members, version, spec_types):
    """MIN/MAX of column ``c`` restricted to member partitions of spec
    column ``mcol`` in ONE manifest read (manifest_group_stats over
    the member set — never a per-member manifest re-parse): each
    member's recorded [min, max] IS its clipped extreme, so the merge
    is exact. Spec columns themselves need no stats: their extremes
    are the component VALUES present with live rows (``c`` may be a
    different spec component than the membership column). Returns the
    manifest rendering (string form; the caller casts) or None. Raises
    ValueError when unprovable (tombstones, missing stats) — caller
    refuses."""
    from .snapshot import manifest_group_stats, manifest_partition_counts

    restrict = (mcol, list(members))
    if c in spec_types:
        present = [
            v
            for v, n in manifest_partition_counts(
                path, version=version, where_partition=restrict, group_col=c
            )
            if v is not None and n > 0
        ]
        if not present:
            return None
        return min(present) if kind == "min" else max(present)
    groups3 = manifest_group_stats(
        path, [c], version=version, where_partition=restrict, group_col=mcol
    )
    idx = 0 if kind == "min" else 1
    ext = [s[c][idx] for _v, _n, s in groups3 if s[c][idx] is not None]
    if not ext:
        return None
    return min(ext) if kind == "min" else max(ext)


def _answer_isnull(spark, parsed, path, spec_types, field_types, version):
    """NULL-membership WHERE, pure-metadata: ``COUNT(*) WHERE col IS
    NULL`` is the recorded per-partition null counts summed (live
    rows minus the null-skipping COUNT(col) — two existing exact
    answerers composed, inheriting every refusal: missing 3-element
    entries, tombstones); IS NOT NULL is COUNT(col) itself. SAME-
    column aggregates are provable too: under IS NOT NULL every SQL
    aggregate already skips NULLs, so SUM/AVG/MIN/MAX/NDV/quantile of
    the predicate column ARE the plain manifest answers; under IS
    NULL they are constants (COUNT(col) = 0, SUM/AVG/MIN/MAX = NULL,
    NDV = 0). CROSS-column aggregates refuse — which rows of the
    other column survive the filter is unprovable from per-column
    stats."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .snapshot import (
        manifest_aggregate,
        manifest_approx_distinct,
        manifest_column_count,
        manifest_column_sum,
        manifest_partition_counts,
        manifest_quantile,
    )

    w = parsed["where"]
    if w[0] == "isnull":
        _, ncol, is_not = w
        members = None
        wp_in = None
        mcol = None
    else:  # eqnull: spec-col equality / IN-membership AND the predicate
        _, ecol, raws, ncol, is_not = w
        etype = spec_types.get(ecol)
        if etype is None:
            raise _Refuse()  # only partition membership is provable
        members = sorted(
            {_coerce_partition_literal(r, etype) for r in raws}, key=repr
        )
        wp_in = (ecol, members)
        mcol = ecol
    if ncol not in spec_types and field_types and ncol not in field_types:
        raise _Refuse()  # unknown predicate column: let the scan error
    try:
        nn = int(
            manifest_column_count(
                path, ncol, version=version, where_partition_in=wp_in
            )
        )
        if members is None:
            total = sum(
                n
                for _v, n in manifest_partition_counts(path, version=version)
            )
        else:
            total = sum(
                n
                for _v, n in manifest_partition_counts(
                    path,
                    version=version,
                    where_partition=(mcol, members),
                    group_col=mcol,
                )
            )
    except ValueError:
        raise _Refuse()  # unprovable nulls (legacy entry / tombstones)
    values, fields, casts = [], [], {}
    try:
        for k, c, alias in parsed["items"]:
            if k == "count":
                values.append(nn if is_not else total - nn)
                fields.append(StructField(alias, LongType(), False))
                continue
            same = (c[0] if k == "quantile" else c) == ncol
            if not same:
                raise _Refuse()  # cross-column: unprovable
            if k == "countcol":
                values.append(nn if is_not else 0)
                fields.append(StructField(alias, LongType(), False))
            elif k in ("sum", "avg"):
                pair = (
                    manifest_column_sum(
                        path, c, version=version, where_partition_in=wp_in
                    )
                    if is_not
                    else (None, 0)
                )
                values.append(_sum_avg_value(k, pair))
                fields.append(
                    StructField(
                        alias,
                        LongType() if k == "sum" else DoubleType(),
                        True,
                    )
                )
            elif k in ("min", "max"):
                if not is_not:
                    mv = None
                elif members is None:
                    a = manifest_aggregate(path, columns=[c], version=version)
                    mv = a["columns"][c][k]
                else:
                    # per-member extremes merge exactly (the IN rule),
                    # in one manifest read over the member set
                    mv = _member_minmax(
                        path, mcol, c, k, members, version, spec_types
                    )
                values.append(None if mv is None else str(mv))
                fields.append(StructField(alias, StringType(), True))
                casts[alias] = (
                    spec_types[c] if c in spec_types else field_types[c]
                )
            elif k == "approx":
                values.append(
                    float(
                        manifest_approx_distinct(
                            path, c, version=version,
                            where_partition_in=wp_in,
                        )
                    )
                    if is_not
                    else 0.0
                )
                fields.append(StructField(alias, DoubleType(), False))
            elif k == "quantile":
                if not is_not:
                    raise _Refuse()  # quantile of zero rows: scan decides
                values.append(
                    int(
                        manifest_quantile(
                            path, c[0], c[1], version=version,
                            where_partition_in=wp_in,
                        )
                    )
                )
                fields.append(StructField(alias, LongType(), False))
            else:
                raise _Refuse()  # cdistinct etc.: scan decides
    except ValueError:
        raise _Refuse()  # missing sketch / tombstones: scan
    frame = _local_rows_df(spark, [tuple(values)], StructType(fields))
    if casts:
        from pyspark.sql import functions as F

        frame = frame.select(
            *[
                F.col(f.name).cast(casts[f.name]).alias(f.name)
                if f.name in casts
                else F.col(f.name)
                for f in frame.schema.fields
            ]
        )
    return frame


def _answer_group_by_multi(
    spark, parsed, path, spec_types, field_types, version
):
    """``GROUP BY <component>, <component>[, …]`` — the composite-
    partition rollup of a multi-column spec, served from ONE manifest
    read: every live partition's directory name IS its group tuple
    (the hive bijection holds per level), so COUNT(*) sums the netted
    per-partition row counts, SUM/AVG merge the recorded ``::sum``
    pairs by addition, and MIN/MAX nest the recorded per-partition
    extremes. An optional eq/IN/conj partition restriction folds in at
    the manifest. Refusals (→ scan): layout-mixed tables, a live
    tombstone under any value-dependent item (the suppressed rows may
    hold the extreme), a live partition missing a required stat."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .snapshot import (
        SUM_SUFFIX as _SUM_SUFFIX,
        _mixed_spec,
        _partition_rows,
        _partition_value,
        _restrict_parts,
        _spec_meta,
        read_manifest,
    )

    gcols = parsed["group_by"]
    for c in gcols:
        if spec_types.get(c) is None:
            raise _Refuse()  # only spec components group at the manifest
    man = read_manifest(path, version)
    meta = man.get("schema") or {}
    if _mixed_spec(man):
        raise _Refuse()
    spec_order = [c for c, _t in _spec_meta(meta)]
    idxs = [spec_order.index(c) for c in gcols]
    eq = None
    if parsed["where"] is not None:
        kind_ = parsed["where"][0]
        if kind_ == "conj":
            eq = _coerce_conj(parsed["where"][1], spec_types)
        elif kind_ in ("eq", "in"):
            wcol = parsed["where"][1]
            wtype = spec_types.get(wcol)
            if wtype is None:
                raise _Refuse()
            raws = (
                parsed["where"][2]
                if kind_ == "in"
                else [parsed["where"][2]]
            )
            eq = [
                (
                    wcol,
                    sorted(
                        {_coerce_partition_literal(r, wtype) for r in raws},
                        key=repr,
                    ),
                )
            ]
        else:
            raise _Refuse()
    try:
        rows = _restrict_parts(
            _partition_rows(man, path), meta, where_partition=eq
        )
    except ValueError:
        raise _Refuse()
    val_items = [
        (k, c)
        for k, c, _a in parsed["items"]
        if k in ("sum", "avg", "min", "max")
    ]
    tomb = (man.get("tombstones") or {}).get("parts") or {}
    if val_items and any(p in tomb for p in rows):
        raise _Refuse()  # suppressed rows may hold the extreme / sum
    stats = man.get("stats") or {}
    groups: "dict[tuple, dict]" = {}
    for p, n in rows.items():
        if n <= 0:
            continue  # fully-suppressed partition: no live group
        levels = p.split("/")
        g = groups.setdefault(
            tuple(levels[i] for i in idxs), {"n": 0, "parts": []}
        )
        g["n"] += n
        g["parts"].append(p)

    def _merged_sum(parts: list, col: str) -> "tuple":
        total, nn = 0, 0
        for p in parts:
            pair = (stats.get(p) or {}).get(f"{col}{_SUM_SUFFIX}")
            if pair is None:
                raise _Refuse()
            s, k = pair
            if k:
                total += int(s)
                nn += int(k)
        return (total if nn else None, nn)

    def _merged_extreme(parts: list, col: str, kind: str):
        vals = []
        for p in parts:
            ent = (stats.get(p) or {}).get(col)
            if ent is None:
                raise _Refuse()
            v = ent[0] if kind == "min" else ent[1]
            if v is not None:
                vals.append(v)
        if not vals:
            return None
        return min(vals) if kind == "min" else max(vals)

    out_rows, fields, casts = [], [], {}
    for k, c, alias in parsed["items"]:
        if k == "group":
            fields.append(StructField(alias, StringType(), True))
            casts[alias] = spec_types[c]
        elif k == "count":
            fields.append(StructField(alias, LongType(), False))
        elif k == "sum":
            fields.append(StructField(alias, LongType(), True))
        elif k == "avg":
            fields.append(StructField(alias, DoubleType(), True))
        else:  # min / max
            if field_types.get(c) is None:
                raise _Refuse()
            fields.append(StructField(alias, StringType(), True))
            casts[alias] = field_types[c]
    for gkey in sorted(groups, key=repr):
        g = groups[gkey]
        vals = []
        for k, c, _a in parsed["items"]:
            if k == "group":
                lvl = gkey[gcols.index(c)]
                is_null, v = _partition_value(lvl, spec_types[c])
                vals.append(None if is_null else str(v))
            elif k == "count":
                vals.append(int(g["n"]))
            elif k in ("sum", "avg"):
                s, nn = _merged_sum(g["parts"], c)
                vals.append(
                    s if k == "sum"
                    else (None if not nn else float(s) / nn)
                )
            else:
                v = _merged_extreme(g["parts"], c, k)
                vals.append(None if v is None else str(v))
        out_rows.append(tuple(vals))
    out = _local_rows_df(spark, out_rows, StructType(fields))
    out = out.select(
        *[
            F.col(f.name).cast(casts[f.name]).alias(f.name)
            if f.name in casts
            else F.col(f.name)
            for f in out.schema.fields
        ]
    ).coalesce(1)
    out = _apply_having(out, parsed)
    if parsed["order_by"] is not None:
        ocol, desc = parsed["order_by"]
        out_aliases = [a for _k, _c, a in parsed["items"]]
        if ocol not in out_aliases:
            raise _Refuse()  # ORDER BY names a non-output column
        # group-asc tie-break on EVERY group column (the z63
        # discipline) — a LIMIT cut must be deterministic
        g_aliases = [a for k, _c, a in parsed["items"] if k == "group"]
        key = F.col(ocol).desc() if desc else F.col(ocol).asc()
        out = out.orderBy(key, *[F.col(a).asc() for a in g_aliases])
        if parsed["limit"] is not None:
            out = out.limit(parsed["limit"])
    return out


def _answer_group_by(spark, parsed, path, spec_types, field_types, version):
    gcol = parsed["group_by"]
    gtype = spec_types.get(gcol)
    if gtype is None:
        raise _Refuse()  # only spec columns group at the manifest
    eq = None
    isnull_groups = None
    if parsed["where"] is not None:
        kind_, wcol = parsed["where"][0], parsed["where"][1]
        if kind_ in ("isnull", "eqnull"):
            # per-group null / non-null row counts — the null-rate
            # dashboard GROUP BY, optionally member-restricted
            # ("per-day null rates for THESE days"). COUNT(*) only
            # (other aggregates over the null-filtered rows are
            # cross-column unprovable); a group whose filtered count
            # is zero emits NO row (SQL: no surviving rows, no group).
            if kind_ == "isnull":
                ncol, is_not = parsed["where"][1], parsed["where"][2]
                wp = None
            else:
                _, ecol, raws, ncol, is_not = parsed["where"]
                etype = spec_types.get(ecol)
                if etype is None:
                    raise _Refuse()
                wp = (
                    ecol,
                    sorted(
                        {_coerce_partition_literal(r, etype) for r in raws},
                        key=repr,
                    ),
                )
            if any(k not in ("group", "count") for k, _, _ in parsed["items"]):
                raise _Refuse()
            from .snapshot import manifest_column_count as _mcc
            from .snapshot import manifest_partition_counts as _mpc

            try:
                nn_pairs = _mcc(
                    path, ncol, version=version, by_partition=True,
                    where_partition=wp, group_col=gcol,
                )
                live = _mpc(
                    path, version=version, where_partition=wp,
                    group_col=gcol,
                )
            except ValueError:
                raise _Refuse()
            if [v for v, _ in live] != [v for v, _ in nn_pairs]:
                raise _Refuse()  # membership drift: never answer wrong
            isnull_groups = [
                (v, c if is_not else n - c)
                for (v, n), (_v2, c) in zip(live, nn_pairs)
                if (c if is_not else n - c) > 0
            ]
        elif kind_ == "conj":
            # conjunctive eq/IN on several spec components: the whole
            # restriction folds into every manifest call below (each
            # conjunct matches at its own directory level)
            eq = _coerce_conj(parsed["where"][1], spec_types)
        elif kind_ not in ("eq", "in"):
            # range WHERE + GROUP BY parses (the grouped hybrid tier
            # serves it), but the pure-metadata proof stops here:
            # clipped per-group aggregates are unprovable
            raise _Refuse()
        else:
            # eq / IN restriction on ANY spec component (which may
            # differ from the grouped component): folds into every
            # manifest call below, so all the per-group lists stay
            # membership-aligned by construction
            wtype = spec_types.get(wcol)
            if wtype is None:
                raise _Refuse()
            if kind_ == "in":
                eq = (
                    wcol,
                    sorted(
                        {
                            _coerce_partition_literal(r, wtype)
                            for r in parsed["where"][2]
                        },
                        key=repr,
                    ),
                )
            else:
                eq = (
                    wcol,
                    _coerce_partition_literal(parsed["where"][2], wtype),
                )
    stat_cols = sorted(
        {c for k, c, _ in parsed["items"] if k in ("min", "max")}
    )
    approx_cols = sorted(
        {c for k, c, _ in parsed["items"] if k == "approx"}
    )
    if stat_cols:
        if any(field_types.get(c) is None for c in stat_cols):
            raise _Refuse()  # unknown/evolved-away column
        # group ≡ component level: the per-partition stats entries
        # merge into per-group extremes (manifest_group_stats; footer
        # fallback for pre-upgrade partitions, raise → refuse when
        # unprovable)
        try:
            groups3 = manifest_group_stats(
                path, stat_cols, version=version, where_partition=eq,
                group_col=gcol,
            )
        except ValueError:
            raise _Refuse()
        groups = [(v, n) for v, n, _ in groups3]
        col_stats = [s for _, _, s in groups3]
    elif isnull_groups is not None:
        groups = isnull_groups
        col_stats = [{} for _ in groups]
    else:
        groups = manifest_partition_counts(
            path, version=version, where_partition=eq, group_col=gcol
        )
        col_stats = [{} for _ in groups]
    approx_lists = {}
    for c in approx_cols:
        # by_partition lists sort by group level name and skip
        # zero-live groups — the same order and membership as `groups`
        try:
            approx_lists[c] = [
                e
                for _, e in manifest_approx_distinct(
                    path, c, version=version, where_partition=eq,
                    by_partition=True, group_col=gcol,
                )
            ]
        except ValueError:
            raise _Refuse()  # missing sketch / tombstones: scan
    quant_lists = {}
    for spec in {c for k, c, _ in parsed["items"] if k == "quantile"}:
        try:
            quant_lists[spec] = [
                e
                for _, e in manifest_quantile(
                    path, spec[0], spec[1], version=version,
                    where_partition=eq, by_partition=True, group_col=gcol,
                )
            ]
        except ValueError:
            raise _Refuse()  # missing histogram / tombstones: scan
    ccount_lists = {}
    for c in {c for k, c, _ in parsed["items"] if k == "countcol"}:
        try:
            ccount_lists[c] = [
                e
                for _, e in manifest_column_count(
                    path, c, version=version,
                    where_partition=eq, by_partition=True, group_col=gcol,
                )
            ]
        except ValueError:
            raise _Refuse()  # no null-counted entry / tombstones: scan
    csum_lists = {}
    for c in {c for k, c, _ in parsed["items"] if k in ("sum", "avg")}:
        try:
            csum_lists[c] = [
                (sv, nn)
                for _, sv, nn in manifest_column_sum(
                    path, c, version=version,
                    where_partition=eq, by_partition=True, group_col=gcol,
                )
            ]
        except ValueError:
            raise _Refuse()  # no sum entry / tombstones: scan
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    fields, row_fn = [], []
    for kind, col, alias in parsed["items"]:
        if kind == "group":
            dt = field_types.get(gcol)
            if dt is None:
                raise _Refuse()
            # values decoded from directory names are already typed for
            # integral/boolean partitions; strings/dates go through the
            # same string-cast path as the aggregate answerer
            fields.append(StructField(alias, StringType(), True))
            row_fn.append(lambda v, n, s, gi: None if v is None else str(v))
        elif kind == "count":
            fields.append(StructField(alias, LongType(), False))
            row_fn.append(lambda v, n, s, gi: n)
        elif kind == "approx":
            fields.append(StructField(alias, DoubleType(), False))
            row_fn.append(
                lambda v, n, s, gi, c=col: float(approx_lists[c][gi])
            )
        elif kind == "quantile":
            fields.append(StructField(alias, LongType(), False))
            row_fn.append(
                lambda v, n, s, gi, c=col: int(quant_lists[c][gi])
            )
        elif kind == "countcol":
            fields.append(StructField(alias, LongType(), False))
            row_fn.append(
                lambda v, n, s, gi, c=col: int(ccount_lists[c][gi])
            )
        elif kind in ("sum", "avg"):
            fields.append(
                StructField(
                    alias,
                    LongType() if kind == "sum" else DoubleType(),
                    True,
                )
            )
            row_fn.append(
                lambda v, n, s, gi, c=col, k=kind: _sum_avg_value(
                    k, csum_lists[c][gi]
                )
            )
        else:  # min/max: stat_json rendering → string-cast like z34
            fields.append(StructField(alias, StringType(), True))
            idx = 0 if kind == "min" else 1
            row_fn.append(
                lambda v, n, s, gi, c=col, i=idx: (
                    None if s[c][i] is None else str(s[c][i])
                )
            )
    rows = [
        tuple(fn(v, n, s, gi) for fn in row_fn)
        for gi, ((v, n), s) in enumerate(zip(groups, col_stats))
    ]
    frame = _local_rows_df(spark, rows, StructType(fields))
    from pyspark.sql import functions as F

    exprs = []
    for kind, col, alias in parsed["items"]:
        if kind == "group":
            exprs.append(F.col(alias).cast(field_types[gcol]).alias(alias))
        elif kind in ("count", "approx", "quantile", "countcol",
                      "sum", "avg"):
            exprs.append(F.col(alias))
        else:
            exprs.append(F.col(alias).cast(field_types[col]).alias(alias))
    out = frame.select(*exprs).coalesce(1)
    # HAVING before ORDER BY/LIMIT — SQL's evaluation order.
    out = _apply_having(out, parsed)
    # ORDER BY <output alias> [DESC] LIMIT n — legal on a grouped
    # metadata answer because the FULL group set is already assembled
    # (ordering a complete local frame proves itself); ties break by
    # the group column ascending so LIMIT is deterministic and the
    # scan/oracle can replay it exactly.
    if parsed.get("order_by") is not None:
        ocol, desc = parsed["order_by"]
        out_aliases = [a for _, _, a in parsed["items"]]
        if ocol not in out_aliases:
            raise _Refuse()  # ORDER BY names a non-output column
        gcol_alias = next(
            a for k, _, a in parsed["items"] if k == "group"
        )
        key = F.col(ocol).desc() if desc else F.col(ocol).asc()
        out = out.orderBy(key, F.col(gcol_alias).asc())
        if parsed.get("limit") is not None:
            out = out.limit(parsed["limit"])
    return out
