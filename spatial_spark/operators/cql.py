"""CQL (OGC Common Query Language) subset → Spark SQL translation.

Parity: FilterCQL.java:35-52 + SearchCQL.java:39-69 evaluate ECQL per record
via GeoTools; Utilities.extractEnvelopeFromFilter (:65-119) additionally
mines the expression for an envelope to seed the index search.  Here the
translator emits a Spark SQL string; the envelope mining emerges naturally —
BBOX(...) becomes pure bbox-column range predicates that Catalyst pushes
into the scan, and spatial predicates get an automatic bbox conjunct.

Scope (still a strict subset — untranslatable spatial constructs raise):
  * tier 1 (the subset the reference's tests exercise,
    DynamicLayer.java:106-149, GeoPipesDocTest:154-225): BBOX,
    INTERSECTS/WITHIN/CONTAINS/…, DWITHIN, comparisons, LIKE,
    IS [NOT] NULL, AND/OR/NOT, geometryType(),
  * tier 2 (VERDICT r7 ask #6): NOT / IN / BETWEEN (ECQL shares SQL
    syntax — they flow through to Spark SQL and are conformance-pinned),
    INCLUDE / EXCLUDE match-all/none literals, RELATE with a DE-9IM
    pattern, an optional trailing CRS argument on BBOX, and WKT
    literals with full nesting (polygon holes, multipolygons) via
    balanced-paren extraction instead of the old single-level regex,
  * tier 3: temporal BEFORE / AFTER / DURING with ISO-8601 instants
    (instant/instant periods; durations and non-Z offsets strictly
    rejected),
  * tier 4 (r12, VERDICT r11 ask #7): arithmetic expressions flow
    through (ECQL +,-,*,/ and abs/ceil/floor share SQL syntax —
    conformance-pinned), and GEOMETRY functions in predicates rewrite
    to the engine kernel: area/geomLength/numPoints/numGeometries/
    dimension/isValid/isEmpty over a geometry property become the
    st_* twins.  A geometry function over a NON-geometry argument
    raises in strict mode — never guess,
  * tier 5 (r13): the GeoTools ECQL string-function family
    (strToLowerCase/strToUpperCase/strLength/strTrim/strCapitalize/
    strConcat/strSubstring/strSubstringStart/strIndexOf/strStartsWith/
    strEndsWith/strEqualsIgnoreCase/strMatches/strReplace) with Java
    semantics preserved (0-based substring begin/end-exclusive,
    indexOf -1 for absent, full-match strMatches); calls nest via
    recursive arg rewrite; an unrecognized str*() raises in strict
    mode.

Quoted string literals are MASKED for the whole translation and
restored at the end (ADVICE r8): no keyword rewrite, temporal regex,
or geometry-property normalization can touch literal text, and SQL ''
escapes survive the argument splitter.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..geom import from_wkt

_GEOM_PROPS = ("the_geom", "geometry", "geom")

_SPATIAL_FNS = {
    "intersects": "st_intersects", "within": "st_within",
    "contains": "st_contains", "touches": "st_touches",
    "crosses": "st_crosses", "overlaps": "st_overlaps",
    "disjoint": "st_disjoint", "equals": "st_equals",
}


def _mask_literals(s: str):
    """Replace every single-quoted string literal (SQL '' escapes
    honored) with an opaque ``\\x00<n>\\x00`` placeholder and return
    ``(masked, literals)``.  ADVICE r8: the keyword rewrites
    (INCLUDE/EXCLUDE, temporal BEFORE/AFTER/DURING, geometry-property
    normalization) were running INSIDE quoted literals — ``name =
    'PLEASE INCLUDE'`` became ``'PLEASE TRUE'``.  Masking first makes
    every later regex pass literal-blind; ``_unmask`` restores them at
    the end."""
    out, lits, i = [], [], 0
    while i < len(s):
        ch = s[i]
        if ch != "'":
            out.append(ch)
            i += 1
            continue
        j, buf = i + 1, []
        while j < len(s):
            if s[j] == "'":
                if j + 1 < len(s) and s[j + 1] == "'":   # SQL-escaped ''
                    buf.append("''")
                    j += 2
                    continue
                break
            buf.append(s[j])
            j += 1
        else:
            raise ValueError(f"CQL: unterminated string literal in {s!r}")
        lits.append("'" + "".join(buf) + "'")
        out.append(f"\x00{len(lits) - 1}\x00")
        i = j + 1
    return "".join(out), lits


def _unmask(s: str, lits: list) -> str:
    return re.sub("\x00(\\d+)\x00", lambda m: lits[int(m.group(1))], s)


def _split_top_level(argtext: str) -> list:
    """Split a call's argument text at top-level commas (commas inside
    WKT parens or quotes don't split; SQL '' escapes honored)."""
    out, depth, cur, i = [], 0, [], 0
    while i < len(argtext):
        ch = argtext[i]
        if ch == "'":
            j = i + 1
            while j < len(argtext):
                if argtext[j] == "'":
                    if j + 1 < len(argtext) and argtext[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            cur.append(argtext[i:j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    return out


def _rewrite_calls(s: str, names, repl):
    """Find every ``NAME ( ... )`` call (case-insensitive, balanced
    parens — WKT literals nest arbitrarily) and replace it with
    ``repl(name_lower, [args])``.  Left-to-right, non-overlapping."""
    pat = re.compile(r"\b(" + "|".join(names) + r")\s*\(", flags=re.I)
    out, pos = [], 0
    while True:
        m = pat.search(s, pos)
        if not m:
            out.append(s[pos:])
            return "".join(out)
        depth, i = 1, m.end()
        while i < len(s) and depth:
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError(f"CQL: unbalanced parentheses after "
                             f"{m.group(1).upper()} in {s!r}")
        out.append(s[pos:m.start()])
        out.append(repl(m.group(1).lower(),
                        _split_top_level(s[m.end():i - 1])))
        pos = i


def cql_to_sql(expr: str, strict: bool = True, has_geom: bool = True,
               _env_out: list | None = None,
               _prop_out: dict | None = None) -> str:
    """Translate the CQL subset to a Spark SQL predicate string.

    strict=True (default) raises on CQL spatial constructs the translator
    failed to rewrite (wrong arity, malformed WKT) instead of letting them
    fall through to a confusing Spark analysis error.  has_geom=False
    targets point layers (no WKB column): distance predicates compile to
    the pure-column spherical formula on (xmin, ymin).

    ``_env_out`` (r12): a caller-supplied list that receives the
    envelopes of the expression's spatial predicates (BBOX and the
    WKT-literal family except DISJOINT) — the
    Utilities.extractEnvelopeFromFilter (:65-119) index-seeding parity,
    now at the MANIFEST level (cql_filter prunes shards with it).
    Mining is conservative: when the expression contains OR or NOT
    anywhere (so a spatial predicate may sit under negation or
    disjunction), the list is CLEARED — pruning only engages for pure
    conjunctions."""
    # quoted string literals are masked for the WHOLE translation and
    # restored at the end — no keyword rewrite can touch literal text
    # (ADVICE r8 low)
    s, _lits = _mask_literals(expr)

    def _protect(sql: str) -> str:
        """Re-mask literals a repl function emitted (WKT, DE-9IM
        patterns) so the later regex passes stay literal-blind."""
        masked, new = _mask_literals(sql)
        off = len(_lits)
        _lits.extend(new)
        return re.sub("\x00(\\d+)\x00",
                      lambda m: f"\x00{int(m.group(1)) + off}\x00", masked)

    def bbox_repl(args):
        # BBOX(prop, x1, y1, x2, y2 [, 'EPSG:4326']) — the optional
        # trailing CRS matches ECQL; only lon/lat (or the layer's native
        # cartesian frame) is meaningful here, so it is validated-ignored
        if len(args) == 6:
            crs = args[5].strip().strip("'\"").upper()
            if crs not in ("EPSG:4326", "CRS:84", "OGC:CRS84"):
                raise ValueError(f"BBOX: unsupported CRS {args[5]!r}")
            args = args[:5]
        if len(args) != 5:
            raise ValueError(f"BBOX: expected 5 arguments, got {len(args)}")
        x1, y1, x2, y2 = (float(v) for v in args[1:5])
        if _env_out is not None:
            _env_out.append((min(x1, x2), min(y1, y2),
                             max(x1, x2), max(y1, y2)))
        return (f"(xmax >= {min(x1, x2)!r} AND xmin <= {max(x1, x2)!r} AND "
                f"ymax >= {min(y1, y2)!r} AND ymin <= {max(y1, y2)!r})")

    def dwithin_repl(args):
        # DWITHIN(prop, POINT(x y), d, units) → orthodromic distance
        # test (units: meters | kilometers; reference distances are
        # great-circle km via OrthodromicDistance.java:90-97)
        if len(args) != 4:
            raise ValueError(f"DWITHIN: expected 4 arguments, got {len(args)}")
        g = from_wkt(args[1])
        if g.gtype != 1:
            raise ValueError("DWITHIN: probe geometry must be a POINT")
        x, y = float(g.data[0]), float(g.data[1])
        dist = float(args[2])
        unit = args[3].lower()
        km = {"meters": dist / 1000.0, "kilometers": dist}.get(unit)
        if km is None:
            raise ValueError(f"DWITHIN: unknown units {unit!r}")
        if has_geom:
            return (f"st_sphere_distance(geom, CAST({x!r} AS DOUBLE), "
                    f"CAST({y!r} AS DOUBLE)) <= {km!r}")
        return (f"st_distance_sphere(CAST({x!r} AS DOUBLE), "
                f"CAST({y!r} AS DOUBLE), xmin, ymin) <= {km!r}")

    def spatial_repl(op, args):
        # op(prop, WKT) → st_op + envelope conjunct (two-phase: the
        # envelope range predicate pushes into the scan, exact refine
        # runs on the survivors — Utilities.extractEnvelopeFromFilter)
        if len(args) != 2:
            raise ValueError(
                f"{op.upper()}: expected 2 arguments, got {len(args)}")
        wkt = args[1].strip()
        g = from_wkt(wkt)
        e = g.envelope()
        exact = f"{_SPATIAL_FNS[op]}(geom, st_geomfromtext('{wkt}'))"
        if op == "disjoint":
            return exact
        if _env_out is not None:
            _env_out.append((e[0], e[1], e[2], e[3]))
        return (f"(xmax >= {e[0]!r} AND xmin <= {e[2]!r} AND "
                f"ymax >= {e[1]!r} AND ymin <= {e[3]!r} AND {exact})")

    def relate_repl(args):
        # RELATE(prop, WKT, 'T*F**F***') → st_relate DE-9IM test (tier 2)
        if len(args) != 3:
            raise ValueError(f"RELATE: expected 3 arguments, got {len(args)}")
        wkt = args[1].strip()
        from_wkt(wkt)   # validate
        pat = args[2].strip().strip("'\"")
        if not re.fullmatch(r"[TF012*]{9}", pat):
            raise ValueError(f"RELATE: bad DE-9IM pattern {pat!r}")
        return f"st_relate(geom, st_geomfromtext('{wkt}'), '{pat}')"

    def dispatch(name, args):
        args = [_unmask(a, _lits) for a in args]
        if name == "bbox":
            return _protect(bbox_repl(args))
        if name == "dwithin":
            return _protect(dwithin_repl(args))
        if name == "relate":
            return _protect(relate_repl(args))
        return _protect(spatial_repl(name, args))

    s = _rewrite_calls(
        s, ["BBOX", "DWITHIN", "RELATE"] + [k.upper() for k in _SPATIAL_FNS],
        dispatch)

    # geometryType(the_geom) → st_geometrytype(geom)
    s = re.sub(r"geometryType\s*\(\s*(\w+)\s*\)", "st_geometrytype(geom)",
               s, flags=re.I)

    # tier 4: geometry functions in (arithmetic) predicates — ECQL
    # area(geom) / geomLength(geom) / numPoints / numGeometries /
    # dimension / isValid / isEmpty → the st_* kernel over the layer's
    # geom column.  Strict: the argument must BE a geometry property;
    # a stray column name raises instead of silently st_-ing it.
    _GEOM_FNS = {"area": "st_area", "geomlength": "st_length",
                 "numpoints": "st_numpoints",
                 "numgeometries": "st_numgeometries",
                 "dimension": "st_dimension", "isvalid": "st_isvalid",
                 "isempty": "st_isempty"}

    def geom_fn_repl(name, args):
        if len(args) != 1:
            raise ValueError(
                f"{name}: expected 1 argument, got {len(args)}")
        prop = args[0].strip().lower()
        if prop not in _GEOM_PROPS and prop != "geom":
            raise ValueError(
                f"CQL: {name}({args[0]}) — geometry function over a "
                f"non-geometry property (expected one of {_GEOM_PROPS})")
        return f"{_GEOM_FNS[name]}(geom)"

    s = _rewrite_calls(s, list(_GEOM_FNS), geom_fn_repl)

    # tier 5 (r13): the GeoTools ECQL string-function family
    # (FilterFunction_str*) → Spark SQL.  Java semantics preserved:
    # strSubstring is 0-based begin-inclusive / end-exclusive,
    # strIndexOf is 0-based with -1 for absent, strMatches is a FULL
    # match (Java String.matches), strCapitalize title-cases every
    # word (initcap).  Args are rewritten recursively so calls nest
    # (strConcat(strToLowerCase(a), b)).
    _STR_SIMPLE = {"strtolowercase": "lower", "strtouppercase": "upper",
                   "strlength": "length", "strtrim": "trim",
                   "strcapitalize": "initcap", "strabs": "abs"}
    _STR_FNS = list(_STR_SIMPLE) + [
        "strconcat", "strsubstring", "strsubstringstart", "strindexof",
        "strstartswith", "strendswith", "strequalsignorecase",
        "strmatches", "strreplace"]

    def str_fn_repl(name, args):
        args = [_rewrite_calls(a, _STR_FNS, str_fn_repl).strip()
                for a in args]

        def need(n):
            if len(args) != n:
                raise ValueError(
                    f"{name}: expected {n} argument(s), got {len(args)}")
        if name in _STR_SIMPLE:
            need(1)
            return f"{_STR_SIMPLE[name]}({args[0]})"
        if name == "strconcat":
            need(2)
            return f"concat({args[0]}, {args[1]})"
        if name == "strsubstring":
            need(3)
            return (f"substring({args[0]}, ({args[1]}) + 1, "
                    f"({args[2]}) - ({args[1]}))")
        if name == "strsubstringstart":
            need(2)
            return f"substring({args[0]}, ({args[1]}) + 1)"
        if name == "strindexof":
            need(2)
            return f"(instr({args[0]}, {args[1]}) - 1)"
        if name == "strstartswith":
            need(2)
            return f"startswith({args[0]}, {args[1]})"
        if name == "strendswith":
            need(2)
            return f"endswith({args[0]}, {args[1]})"
        if name == "strequalsignorecase":
            need(2)
            return f"(lower({args[0]}) = lower({args[1]}))"
        if name == "strmatches":
            need(2)
            return (f"({args[0]} RLIKE concat('^(?:', {args[1]}, "
                    f"')$'))")
        if name == "strreplace":
            # strReplace(s, search, replace, all) — the GeoTools
            # signature carries a literal boolean; only all=true maps
            # to a SQL builtin (replace); all=false has no twin
            if len(args) == 4 and args[3].strip().lower() in (
                    "true", "'true'"):
                return (f"replace({args[0]}, {args[1]}, {args[2]})")
            raise ValueError(
                "strReplace: only the replace-all form "
                "(4th argument true) is supported")
        raise AssertionError(name)

    s = _rewrite_calls(s, _STR_FNS, str_fn_repl)

    # INCLUDE / EXCLUDE match-all / match-none literals (tier 2)
    s = re.sub(r"\bINCLUDE\b", "TRUE", s, flags=re.I)
    s = re.sub(r"\bEXCLUDE\b", "FALSE", s, flags=re.I)

    # Temporal predicates (ECQL): attr BEFORE t, attr AFTER t,
    # attr DURING t1/t2 with ISO-8601 instants (a trailing Z is
    # accepted and read in session time — the engine stores naive
    # timestamps; offsets other than Z are rejected).  DURING follows
    # the OGC filter semantics: strictly inside the period.
    _ISO = (r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?"
            r"(?:Z|[+-]\d{2}:\d{2})?")

    def _ts(lit: str) -> str:
        if re.search(r"[+-]\d{2}:\d{2}$", lit):
            raise ValueError(
                f"CQL temporal: only Z/naive instants supported, got {lit!r}")
        return ("TIMESTAMP '"
                + lit.rstrip("Zz").replace("T", " ") + "'")

    def before_after(m):
        op = "<" if m.group(2).upper() == "BEFORE" else ">"
        return f"{m.group(1)} {op} {_ts(m.group(3))}"

    s = re.sub(rf"(\w+)\s+(BEFORE|AFTER)\s+({_ISO})\b", before_after,
               s, flags=re.I)

    def during(m):
        a, b = _ts(m.group(2)), _ts(m.group(3))
        return f"({m.group(1)} > {a} AND {m.group(1)} < {b})"

    s = re.sub(rf"(\w+)\s+DURING\s+({_ISO})\s*/\s*({_ISO})\b", during,
               s, flags=re.I)
    leftover_t = re.search(
        r"\b\w+\s+(BEFORE|AFTER|DURING)\s", s, flags=re.I)
    if strict and leftover_t:
        raise ValueError(
            f"CQL: could not translate temporal "
            f"{leftover_t.group(1).upper()} — ISO-8601 instant "
            f"(or instant/instant period for DURING) required in: {expr!r}")

    # normalize geometry property names to our column
    for p in _GEOM_PROPS:
        s = re.sub(rf"\b{p}\b", "geom", s)

    # CQL operators → SQL.  NOT / IN / BETWEEN / LIKE / IS NULL share
    # SQL syntax and flow through to Spark SQL untouched (tier 2 —
    # conformance-pinned in tests and the cql2 oracle gate).
    s = re.sub(r"<>", "!=", s)

    # envelope mining is only sound for pure conjunctions: an OR /
    # NOT anywhere may place a spatial predicate under disjunction or
    # negation (checked on the MASKED text — literals can say OR)
    _disjunctive = bool(re.search(r"\b(OR|NOT)\b", s, flags=re.I))
    if _env_out is not None and _disjunctive:
        _env_out.clear()

    # r13 (VERDICT r12 ask #5): mine NUMERIC property-range bounds
    # from the same pure-conjunction text — they seed manifest-shard
    # ATTRIBUTE pruning (Layer.df_pruned props=) the way envelopes
    # seed the window descent.  Mined on the MASKED text, so string
    # literals can never look like comparisons.
    if _prop_out is not None and not _disjunctive:
        _num = r"-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"

        def _bound(col, lo_v, hi_v):
            lo, hi = _prop_out.get(col, (None, None))
            if lo_v is not None:
                lo = lo_v if lo is None else max(lo, lo_v)
            if hi_v is not None:
                hi = hi_v if hi is None else min(hi, hi_v)
            _prop_out[col] = (lo, hi)

        def _btw(m):
            va, vb = sorted((float(m.group(2)), float(m.group(3))))
            _bound(m.group(1), va, vb)
            return " \x02 "     # consumed-conjunct placeholder
        txt = re.sub(
            rf"\b([A-Za-z_]\w*)\s+BETWEEN\s+({_num})\s+AND\s+({_num})\b",
            _btw, s, flags=re.I)
        # only a conjunct that IS a bare `col op number` (no
        # arithmetic, no functions) contributes a bound — fullmatch
        # per AND-separated piece keeps `p_size < 10 + 2` unmined
        for part in re.split(r"\bAND\b", txt, flags=re.I):
            m = re.fullmatch(
                rf"[\s(]*([A-Za-z_]\w*)\s*(<=|>=|<|>|=)\s*({_num})[\s)]*",
                part)
            if not m:
                continue
            col, op, v = m.group(1), m.group(2), float(m.group(3))
            _bound(col, v if op in (">", ">=", "=") else None,
                   v if op in ("<", "<=", "=") else None)

    if strict:
        leftover = re.search(
            r"\b(BBOX|INTERSECTS|DWITHIN|RELATE|WITHIN|CONTAINS|TOUCHES"
            r"|CROSSES|OVERLAPS|DISJOINT|EQUALS)\s*\(", s, flags=re.I)
        if leftover:
            raise ValueError(
                f"CQL: could not translate {leftover.group(1).upper()}(...) — "
                f"check argument count/WKT in: {expr!r}")
        leftover_s = re.search(r"\b(str[A-Za-z]\w*)\s*\(", s)
        if leftover_s:
            raise ValueError(
                f"CQL: unsupported string function "
                f"{leftover_s.group(1)}(...) in: {expr!r}")
    return _unmask(s, _lits)


def cql_filter(layer, expression: str) -> DataFrame:
    """spatial.cql (:838-848).  Conjunctive spatial envelopes AND
    numeric property-range bounds mined from the expression seed
    MANIFEST-shard file pruning (Layer.df_pruned) before the
    translated predicate runs — the engine's analogue of
    Utilities.extractEnvelopeFromFilter seeding the R-tree search,
    extended to FilterProperty shapes over the r13 attribute-range
    shard stats.  The geom column's presence comes from the catalog's
    recorded schema (``Layer.columns``), so a pruned search reads only
    the pruned files."""
    env: list = []
    props: dict = {}
    sql = cql_to_sql(expression, has_geom="geom" in layer.columns,
                     _env_out=env, _prop_out=props)
    window = None
    if env:
        x0 = max(e[0] for e in env)
        y0 = max(e[1] for e in env)
        x1 = min(e[2] for e in env)
        y1 = min(e[3] for e in env)
        if x0 <= x1 and y0 <= y1:
            window = (x0, y0, x1, y1)
    if window or props:
        return layer.df_pruned(windows=window, props=props).filter(sql)
    return layer.df().filter(sql)
