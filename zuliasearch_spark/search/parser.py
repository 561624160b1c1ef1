"""Query-string parser: the common subset of Zulia's query syntax.

Grammar source: ZuliaSyntaxParser.jj (tokens :138-215 — AND/OR/NOT,
+/-, parens, field:, ranges [a TO b] / {a TO b}, comparison ops,
boosts ^N, QUOTED phrases with ~slop, fuzzy term~N, wildcard *?,
regex /re/, group min-match (...)~N and Zulia's (...)@N), driven by
QueryParserTest.java as the behavioral spec. Occur assignment
follows Lucene's classic addClause rules: an explicit ``+`` makes a
clause required and ``-``/``NOT`` prohibited regardless of operators;
``a AND b`` promotes both sides to required; under a default-AND
operator an explicit OR demotes both sides to optional.

The parse result is a small AST (Bool / Leaf / Range nodes). Leaves
stay raw here; ``resolve_tree`` (below) analyzes text per field,
expands wildcards/fuzzies against the term dictionary, and produces
spec leaves the kernel evaluator (matcher.evaluate_tree) consumes.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dfield

from zuliasearch_spark.search.intervals import ISrc, pull_up_disjunctions
from zuliasearch_spark.search.query import PhraseSpec, TermSpec

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"

# fn:NAME → ISrc.kind (both grammar spellings; token defs
# ZuliaSyntaxParser.jj:190-211)
_IFN_NAMES = {
    "atleast": "atleast",
    "maxwidth": "maxwidth",
    "maxgaps": "maxgaps",
    "ordered": "ordered",
    "unordered": "unordered",
    "unorderednooverlaps": "unordered_no_overlaps",
    "or": "or",
    "phrase": "phrase",
    "before": "before",
    "after": "after",
    "containing": "containing",
    "notcontaining": "not_containing",
    "containedby": "contained_by",
    "notcontainedby": "not_contained_by",
    "within": "within",
    "notwithin": "not_within",
    "overlapping": "overlapping",
    "nonoverlapping": "non_overlapping",
    "extend": "extend",
    "wildcard": "wildcard",
    "fuzzyterm": "fuzzy",
}


def leaf_texts(node: ISrc) -> tuple[str, ...]:
    """Raw leaf texts of a parse-time source tree (for display)."""
    if node.kind in ("text", "wildcard", "fuzzy"):
        return tuple(node.term.split())
    out: list[str] = []
    for c in node.children:
        out.extend(leaf_texts(c))
    return tuple(dict.fromkeys(out))


def _flat_words(tree: ISrc):
    """(kind, words) when the tree is one of the historical flat
    shapes — a single-level ordered/unordered/phrase/or/before/after
    over single-word text leaves — else None."""
    if tree.kind not in ("ordered", "unordered", "phrase", "or", "before", "after"):
        return None
    words = []
    for c in tree.children:
        if c.kind != "text" or len(c.term.split()) != 1:
            return None
        words.append(c.term)
    if tree.kind == "after":
        # legacy shape: after(a b) = ordered(b a)
        return ("before", [words[1], words[0]])
    return (tree.kind, words)


# ---------------------------------------------------------------------------
# AST


@dataclass
class Leaf:
    text: str
    field: str | None = None
    boost: float = 1.0
    fuzzy: int | None = None  # term~N (None = not fuzzy; term~ → 2)
    phrase: bool = False  # "quoted"
    slop: int = 0
    regex: bool = False  # /regex/


@dataclass
class Range:
    field: str | None
    lo: str | None  # None = open
    hi: str | None
    incl_lo: bool = True
    incl_hi: bool = True
    boost: float = 1.0


@dataclass
class Bool:
    children: list[tuple[str, object]] = dfield(default_factory=list)  # (occur, node)
    mm: int = 0
    boost: float = 1.0


@dataclass
class Interval:
    """Interval function node (Function lexer state,
    ZuliaSyntaxParser.jj:193-215). Flat term-only
    ordered/unordered carry ``words``; any nested composition
    (fn:within, fn:containing, fn:atLeast, …) carries the full
    ``ISrc`` source tree in ``tree`` (words then holds the leaf
    texts for display)."""

    words: tuple[str, ...]
    ordered: bool
    max_gaps: int = -1
    field: str | None = None
    boost: float = 1.0
    tree: object | None = None


@dataclass
class ZlSet:
    """field:zl:ns(v1 v2 …) / field:zl:tq(t1 t2 …) — Zulia's embedded
    typed-set query nodes (ZL_PREFIX grammar state,
    ZuliaSyntaxParser.jj:159,184-185 + NumericsSetQuery/TermsInSetQuery
    productions :398-422). ``ns`` = numeric doc-values set
    (ZuliaNumericSetQueryNode), ``tq`` = constant-score indexed
    term-in-set (ZuliaTermsInSetQueryNode)."""

    kind: str  # "ns" | "tq"
    field: str
    values: tuple[str, ...]
    boost: float = 1.0


@dataclass
class ZlGeo:
    """zl:geo(geoField lat lon distKm) / zl:geoBbox(geoField minLat
    maxLat minLon maxLon) — GeoDistanceQuery/GeoBboxQuery productions
    (ZuliaSyntaxParser.jj:424-453; ZuliaGeoDistanceQueryNode →
    LatLonPoint.newDistanceQuery, ZuliaGeoBboxQueryNode →
    newBoxQuery). The geo field is a stored ``array<double> [lat,
    lon]`` doc-values column."""

    kind: str  # "geo" | "geo_bbox"
    field: str
    args: tuple[float, ...]  # (lat, lon, distKm) | (minLat, maxLat, minLon, maxLon)
    boost: float = 1.0


@dataclass
class ExistsSpec:
    """field:* — FieldExistsQuery (ZuliaPureWildcardNodeProcessor
    .java:24-39): constant-score match of every doc with ≥1 indexed
    token in the field (backed by the norms rows)."""

    field: str
    required: bool = False
    group: int = 0
    subgroup: int = 0


class ParseError(ValueError):
    pass


# ---------------------------------------------------------------------------
# lexer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<and>AND\b|&&)
    # |||field||| (list-length meta) must match before the OR token
    # eats its leading bars; |field| (char-length meta) lexes as a
    # plain term since '|' is a term character
  | (?P<metafield>\|\|\|[^\s|]+\|\|\|)
  | (?P<or>OR\b|\|\|)
  | (?P<not>NOT\b|!)
  | (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<quoted>"(?:[^"\\]|\\.)*")
  | (?P<regex>/(?:[^/\\]|\\.)+/)
  | (?P<rangein>\[)
  | (?P<rangeex>\{)
  | (?P<rbrack>\])
  | (?P<rbrace>\})
  | (?P<carat>\^)
  | (?P<tilde>~)
  | (?P<at>@)
  | (?P<cmp><=|>=|<|>|=)
  | (?P<colon>:)
    # terms: like the reference, '-'/'+' cannot START a term but may
    # appear inside one (_TERM_CHAR, ZuliaSyntaxParser.jj:146) — so
    # "2024-06-17" is one token while "-fly" is MINUS + term
  | (?P<term>(?:[^\s+\-!():^@<>=\[\]"{}~\\/]|\\.)(?:[^\s!():^@<>=\[\]"{}~\\/]|\\.)*)
  | (?P<plus>\+)
  | (?P<minus>-)
    """,
    re.VERBOSE,
)


@dataclass
class _Tok:
    kind: str
    text: str
    start: int = 0
    end: int = 0


def _lex(q: str) -> list[_Tok]:
    out: list[_Tok] = []
    i = 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if m is None:
            raise ParseError(f"cannot lex query at {q[i:]!r}")
        start, i = m.start(), m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(_Tok(kind, m.group(), start, i))
    return out


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


# ---------------------------------------------------------------------------
# parser


class _Parser:
    def __init__(self, q: str, default_op: str = "OR"):
        self.toks = _lex(q)
        self.i = 0
        self.q = q
        self.default_and = default_op.upper() == "AND"

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise ParseError(f"unexpected end of query: {self.q!r}")
        self.i += 1
        return t

    # Lucene QueryParserBase#addClause occur logic
    def _occur(self, mods: str | None, conj: str | None, clauses) -> str:
        if mods == "-":
            return MUST_NOT
        if conj == "AND" and clauses:
            prev_occur, prev_node = clauses[-1]
            if prev_occur != MUST_NOT:
                clauses[-1] = (MUST, prev_node)
                prev_node._implicit_must = False  # explicit via AND
        if self.default_and and conj == "OR" and clauses:
            prev_occur, prev_node = clauses[-1]
            if prev_occur != MUST_NOT:
                clauses[-1] = (SHOULD, prev_node)
        if mods == "+":
            return MUST
        if not self.default_and:
            return MUST if conj == "AND" else SHOULD
        return SHOULD if conj == "OR" else MUST

    def parse_group(self, stop_at_rparen: bool) -> Bool:
        node = Bool()
        conj: str | None = None
        while True:
            t = self.peek()
            if t is None:
                break
            if t.kind == "rparen":
                if stop_at_rparen:
                    break
                raise ParseError("unbalanced ')'")
            if t.kind == "and":
                self.next()
                conj = "AND"
                continue
            if t.kind == "or":
                self.next()
                conj = "OR"
                continue
            mods = None
            if t.kind in ("plus", "minus", "not"):
                self.next()
                mods = "-" if t.kind in ("minus", "not") else "+"
                t = self.peek()
                if t is None:
                    raise ParseError("dangling modifier")
            child = self.parse_atom()
            occur = self._occur(mods, conj, node.children)
            if occur == MUST and mods != "+" and conj != "AND":
                # MUST minted by the DEFAULT AND operator (implicit
                # whitespace) — the mm rewrite may demote it
                child._implicit_must = True
            node.children.append((occur, child))
            conj = None
        return node

    def parse_atom(self):
        t = self.next()
        fieldname = None
        if t.kind in ("term", "metafield"):
            nxt = self.peek()
            if t.text == "fn" and nxt is not None and nxt.kind == "colon":
                self.next()  # consume ':'
                return self._parse_interval_fn()
            if t.text == "zl" and nxt is not None and nxt.kind == "colon":
                # geo nodes carry their field INSIDE the parens
                # (GeoDistanceQuery production takes geoField as the
                # first TermText); ns/tq require the field prefix
                # (ZuliaNumericSetQueryNode.getQuery requireNonNull)
                self.next()  # ':'
                return self._parse_zl(None)
            if nxt is not None and nxt.kind in ("colon", "cmp"):
                fieldname = _unescape(t.text)
                op = self.next()
                if op.kind == "colon":
                    # field-scoped interval: field:fn:ordered(...)
                    # (IntervalExpr(field), ZuliaSyntaxParser.jj:477)
                    # and field:zl:ns(...) / field:zl:tq(...)
                    # (ZuliaExpr(field), :388-396)
                    ft = self.peek()
                    if (
                        ft is not None
                        and ft.kind == "term"
                        and ft.text in ("fn", "zl")
                        and self.i + 1 < len(self.toks)
                        and self.toks[self.i + 1].kind == "colon"
                    ):
                        self.next()  # 'fn' / 'zl'
                        self.next()  # ':'
                        if ft.text == "zl":
                            return self._parse_zl(fieldname)
                        node = self._parse_interval_fn()
                        if isinstance(node, Interval):
                            node.field = fieldname
                        else:
                            _push_field(node, fieldname)
                        return node
                if op.kind == "cmp":
                    val = self.next()
                    if val.kind not in ("term", "quoted"):
                        raise ParseError(f"expected value after {op.text}")
                    v = _unescape(val.text.strip('"'))
                    # field>=v etc. → half-open range
                    if op.text == "=":
                        rng = Range(fieldname, v, v, True, True)
                    elif op.text == ">":
                        rng = Range(fieldname, v, None, False, True)
                    elif op.text == ">=":
                        rng = Range(fieldname, v, None, True, True)
                    elif op.text == "<":
                        rng = Range(fieldname, None, v, True, False)
                    else:
                        rng = Range(fieldname, None, v, True, True)
                    return self._suffixes(rng)
                t = self.next()
        if t.kind == "lparen":
            grp = self.parse_group(stop_at_rparen=True)
            if self.peek() is None or self.next().kind != "rparen":
                raise ParseError("missing ')'")
            grp = self._suffixes(grp)
            if fieldname is not None:
                _push_field(grp, fieldname)
            return grp
        if t.kind in ("rangein", "rangeex"):
            return self._parse_range(fieldname, incl_lo=t.kind == "rangein")
        if t.kind == "quoted":
            words = _unescape(t.text[1:-1]).split()
            leaf = Leaf(" ".join(words), field=fieldname, phrase=True)
            return self._suffixes(leaf)
        if t.kind == "regex":
            leaf = Leaf(_unescape(t.text[1:-1]), field=fieldname, regex=True)
            return self._suffixes(leaf)
        if t.kind == "term":
            leaf = Leaf(_unescape(t.text), field=fieldname)
            return self._suffixes(leaf)
        raise ParseError(f"unexpected token {t.text!r}")

    def _parse_interval_fn(self):
        """Interval functions — the complete Function-state grammar
        (ZuliaSyntaxParser.jj:190-215 token defs, :477-789
        productions), including nested interval sources. Parses to an
        ``ISrc`` tree (``search/intervals.py``); the historical flat
        shapes (term-only ordered/unordered/phrase/or/before/after)
        keep their legacy representation so the positional fast path
        and ``~maxgaps`` suffix behavior are unchanged."""
        tree = self._parse_isrc_fn()
        flat = _flat_words(tree)
        if flat is not None:
            kind, words = flat
            if kind == "or":
                return self._suffixes(Bool([(SHOULD, Leaf(w)) for w in words], mm=1))
            if kind == "before":
                return self._suffixes(Interval(tuple(words), ordered=True))
            if kind == "phrase":
                return self._suffixes(Interval(tuple(words), ordered=True, max_gaps=0))
            if kind in ("ordered", "unordered"):
                return self._suffixes(Interval(tuple(words), ordered=kind == "ordered"))
        node = Interval(leaf_texts(tree), ordered=True, tree=tree)
        return self._suffixes(node)

    def _parse_zl(self, fieldname: str | None):
        """zl:ns / zl:tq typed-set nodes and zl:geo / zl:geoBbox
        (NumericsSetQuery / TermsInSetQuery / GeoDistanceQuery /
        GeoBboxQuery productions, ZuliaSyntaxParser.jj:398-453).
        Values are TermText (bare term or quoted); a leading '-'
        merges into the value so negative numerics parse."""
        name = self.next()
        kinds = {
            "ns": "ns", "numericset": "ns", "tq": "tq", "termquery": "tq",
            "geo": "geo", "geobbox": "geo_bbox",
        }
        kind = kinds.get(name.text.lower()) if name.kind == "term" else None
        if kind is None:
            raise ParseError(f"unsupported zl node {name.text!r}")
        if kind in ("ns", "tq") and fieldname is None:
            raise ParseError(f"zl:{name.text} needs a field prefix — field:zl:{name.text}(...)")
        if self.next().kind != "lparen":
            raise ParseError(f"zl:{name.text} needs '(...)'")
        if kind in ("geo", "geo_bbox"):
            if fieldname is not None:
                geo_field = fieldname  # loc:zl:geo(lat lon km) form
            else:
                gt = self.next()
                if gt.kind != "term":
                    raise ParseError(f"zl:{name.text} needs a geo field name first")
                geo_field = _unescape(gt.text)
            n_args = 3 if kind == "geo" else 4
            args = []
            neg = False
            while True:
                t = self.next()
                if t.kind == "rparen":
                    break
                if t.kind == "minus":
                    neg = True
                    continue
                if t.kind != "term":
                    raise ParseError(f"bad token {t.text!r} in zl:{name.text}")
                try:
                    v = float(_unescape(t.text).rstrip(","))
                except ValueError as e:
                    raise ParseError(f"bad number {t.text!r} in zl:{name.text}") from e
                args.append(-v if neg else v)
                neg = False
            if len(args) != n_args:
                raise ParseError(f"zl:{name.text} takes {n_args} numbers, got {len(args)}")
            return self._suffixes(ZlGeo(kind, geo_field, tuple(args)))
        values: list[str] = []
        neg = False
        while True:
            t = self.next()
            if t.kind == "rparen":
                break
            if t.kind == "minus":
                neg = True
                continue
            if t.kind == "quoted":
                v = _unescape(t.text[1:-1])
            elif t.kind == "term":
                v = _unescape(t.text).rstrip(",")
            else:
                raise ParseError(f"bad token {t.text!r} in zl:{name.text}")
            if v:
                values.append("-" + v if neg else v)
            neg = False
        if not values:
            raise ParseError(f"zl:{name.text} needs at least one value")
        return self._suffixes(ZlSet(kind, fieldname, tuple(values)))

    def _parse_inumber(self, ctx: str) -> int:
        t = self.next()
        if t.kind != "term" or not re.fullmatch(r"\d+", t.text):
            raise ParseError(f"fn:{ctx} expects a number, got {t.text!r}")
        return int(t.text)

    def _parse_isrc(self):
        """One interval source: nested fn:… call, quoted analyzed
        text, or a bare term (IntervalFun/IntervalText productions,
        ZuliaSyntaxParser.jj:486-512, 784-789)."""
        t = self.next()
        if t.kind == "quoted":
            return ISrc("text", term=_unescape(t.text[1:-1]))
        if t.kind != "term":
            raise ParseError(f"bad interval source token {t.text!r}")
        nxt = self.peek()
        if t.text == "fn" and nxt is not None and nxt.kind == "colon":
            self.next()  # ':'
            return self._parse_isrc_fn()
        w = _unescape(t.text).rstrip(",")
        if not w:
            raise ParseError("empty interval source term")
        return ISrc("text", term=w)

    def _parse_isrc_fn(self):
        name = self.next()
        if name.kind != "term":
            raise ParseError(f"bad interval function {name.text!r}")
        kind = _IFN_NAMES.get(name.text.lower())
        if kind is None:
            raise ParseError(f"unsupported interval function {name.text!r}")
        if self.next().kind != "lparen":
            raise ParseError(f"fn:{name.text} needs '(...)'")

        def until_rparen(min_n: int):
            srcs = []
            while True:
                t = self.peek()
                if t is None:
                    raise ParseError(f"unterminated fn:{name.text}")
                if t.kind == "rparen":
                    self.next()
                    break
                srcs.append(self._parse_isrc())
            if len(srcs) < min_n:
                raise ParseError(f"fn:{name.text} needs ≥{min_n} sources")
            return tuple(srcs)

        def exactly(n: int):
            srcs = tuple(self._parse_isrc() for _ in range(n))
            if self.next().kind != "rparen":
                raise ParseError(f"fn:{name.text} takes exactly {n} sources")
            return srcs

        if kind in ("ordered", "unordered", "or", "phrase"):
            return ISrc(kind, until_rparen(1))
        if kind == "atleast":
            n = self._parse_inumber(name.text)
            return ISrc(kind, until_rparen(1), n=n)
        if kind in ("maxgaps", "maxwidth"):
            n = self._parse_inumber(name.text)
            return ISrc(kind, exactly(1), n=n)
        if kind in (
            "unordered_no_overlaps", "containing", "not_containing",
            "contained_by", "not_contained_by", "overlapping",
            "non_overlapping",
        ):
            return ISrc(kind, exactly(2))
        if kind == "before":
            return ISrc("before", exactly(2))
        if kind == "after":
            return ISrc("after", exactly(2))
        if kind in ("within", "not_within"):
            src = self._parse_isrc()
            n = self._parse_inumber(name.text)
            ref = self._parse_isrc()
            if self.next().kind != "rparen":
                raise ParseError(f"fn:{name.text} takes (source N reference)")
            return ISrc(kind, (src, ref), n=n)
        if kind == "extend":
            src = self._parse_isrc()
            before = self._parse_inumber(name.text)
            after = self._parse_inumber(name.text)
            if self.next().kind != "rparen":
                raise ParseError("fn:extend takes (source N N)")
            return ISrc("extend", (src,), n=before, n2=after)
        if kind in ("wildcard", "fuzzy"):
            t = self.next()
            if t.kind == "quoted":
                pat = _unescape(t.text[1:-1])
            elif t.kind == "term":
                pat = _unescape(t.text)
            else:
                raise ParseError(f"fn:{name.text} needs a term")
            nums = []
            while True:
                t = self.next()
                if t.kind == "rparen":
                    break
                if t.kind == "term" and re.fullmatch(r"\d+", t.text):
                    nums.append(int(t.text))
                else:
                    raise ParseError(f"bad token {t.text!r} in fn:{name.text}")
            if kind == "wildcard":
                # Wildcard(pattern, maxExpansions)
                return ISrc("wildcard", term=pat, n=nums[0] if nums else 0)
            # FuzzyTerm(term, maxEdits, maxExpansions)
            return ISrc(
                "fuzzy", term=pat,
                n=nums[0] if nums else 2,
                n2=nums[1] if len(nums) > 1 else 0,
            )
        raise ParseError(f"unsupported interval function {name.text!r}")

    def _parse_range(self, fieldname, incl_lo: bool) -> Range:
        # range body is re-read from the RAW string (the reference
        # grammar switches to a Range lexer state where any non-space
        # run is one value — RANGE_GOOP, ZuliaSyntaxParser.jj:215);
        # this keeps timestamps like 2024-06-17T16:10:00 intact
        t = self.peek()
        if t is None:
            raise ParseError("unterminated range")
        body_start = t.start
        end_pos = None
        j = body_start
        while j < len(self.q):
            ch = self.q[j]
            if ch == "\\":
                j += 2
                continue
            if ch in "]}":
                end_pos = j
                break
            j += 1
        if end_pos is None:
            raise ParseError("unterminated range")
        vals = [v.strip('"') for v in self.q[body_start:end_pos].split()]
        # advance the token cursor past the range body + closer
        while self.i < len(self.toks) and self.toks[self.i].start <= end_pos:
            self.i += 1
        end_kind = "rbrack" if self.q[end_pos] == "]" else "rbrace"
        if len(vals) != 3 or vals[1].upper() != "TO":
            raise ParseError(f"bad range body {' '.join(vals)!r}")
        lo_v, hi_v = _unescape(vals[0]), _unescape(vals[2])
        rng = Range(
            fieldname,
            None if lo_v == "*" else lo_v,
            None if hi_v == "*" else hi_v,
            incl_lo,
            end_kind == "rbrack",
        )
        return self._suffixes(rng)

    def _suffixes(self, node):
        while True:
            t = self.peek()
            if t is None:
                return node
            if t.kind == "carat":
                self.next()
                num = self.next()
                try:
                    node.boost = float(num.text)
                except ValueError as e:
                    raise ParseError(f"bad boost {num.text!r}") from e
                continue
            if t.kind in ("tilde", "at"):
                # ~ after quoted = slop; after group = mm (also @N);
                # after bare term = fuzzy (default 2 edits)
                self.next()
                num = None
                nt = self.peek()
                if nt is not None and nt.kind == "term" and re.fullmatch(r"\d+(\.\d+)?", nt.text):
                    num = self.next().text

                def whole(what: str) -> int:
                    # mm / slop / max-gaps take WHOLE numbers only —
                    # the reference surfaces a ParseException, not a
                    # truncation (QueryParserEdgeCaseTest
                    # .fractionalWholeNumberTokenTest)
                    if num is not None and "." in num:
                        raise ParseError(f"{what} must be a whole number, got {num!r}")
                    return int(num)

                if isinstance(node, Bool):
                    node.mm = whole("minimum-match") if num else 1
                    # every MinShouldMatchNode group gets the
                    # force-OR rewrite regardless of N
                    _mm_force_or(node)
                elif isinstance(node, Interval):
                    # ~N after fn:ordered/unordered = max gaps; on a
                    # nested tree it wraps the root in fn:maxgaps
                    gaps = whole("max gaps") if num else 0
                    if node.tree is not None:
                        node.tree = ISrc("maxgaps", (node.tree,), n=gaps)
                    else:
                        node.max_gaps = gaps
                elif isinstance(node, Leaf) and node.phrase:
                    node.slop = whole("phrase slop") if num else 0
                elif isinstance(node, Leaf):
                    node.fuzzy = whole("fuzzy edits") if num else 2
                else:
                    raise ParseError("~ not applicable here")
                continue
            return node


def _push_field(node, fieldname: str) -> None:
    """field:(...) scopes every leaf in the group."""
    if isinstance(node, Bool):
        for _, child in node.children:
            _push_field(child, fieldname)
    elif isinstance(node, (Leaf, Range)):
        if node.field is None:
            node.field = fieldname


def parse_query(q: str, default_op: str = "OR") -> Bool:
    p = _Parser(q, default_op)
    root = p.parse_group(stop_at_rparen=False)
    if p.peek() is not None:
        raise ParseError(f"trailing input at {p.peek().text!r}")
    if not root.children:
        raise ParseError("empty query")
    return root


def _mm_force_or(node: Bool) -> None:
    """ZuliaMinMatchOrHandlingProcessor (zulia-query-parser
    processors/ZuliaMinMatchOrHandlingProcessor.java): inside a
    min-should-match group, MUST occurs minted by the DEFAULT AND
    operator (implicit whitespace) demote to SHOULD at every nesting
    level — so mm actually counts them — while explicit AND pairs and
    +/- modifiers keep their meaning. QueryParserTest asserts the
    parse is identical under OR and AND defaults whenever mm is in
    effect. The reference recurses into explicit-AND subtrees with
    coercion disabled and never descends through a modifier; here
    explicitness is a per-clause flag, so recursing only into
    implicit/optional children yields the same tree."""
    for idx, (occur, child) in enumerate(node.children):
        if occur == MUST and getattr(child, "_implicit_must", False):
            node.children[idx] = (SHOULD, child)
            occur = SHOULD
        if isinstance(child, Bool) and occur == SHOULD and child.mm == 0:
            _mm_force_or(child)


def apply_global_mm(root: Bool, mm: int) -> Bool:
    """Global minimum-should-match (ZuliaGlobalMinMatchProcessor:
    wraps the whole query in a MinShouldMatchNode when mm > 1, which
    then gets the force-OR rewrite)."""
    if mm > 1:
        root.mm = max(root.mm, mm)
        _mm_force_or(root)
    elif mm:
        root.mm = max(root.mm, mm)
    return root


# ---------------------------------------------------------------------------
# resolution: raw AST → spec-leaf AST for the kernel evaluator


@dataclass
class RLeaf:
    """One token resolved to (possibly multi-field / multi-term)
    specs with the TermSpec group algebra: OR across subgroups
    (fields), conj/disj of analyzed terms within a subgroup by the
    default operator."""

    specs: tuple = ()
    conj: bool = False  # multi-term token combines with AND
    boost: float = 1.0


@dataclass
class RBool:
    children: tuple = ()  # (occur, node)
    mm: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class RRange:
    """Doc-values range (field:[a TO b], IndexOrDocValuesQuery path,
    SetQueryHelper.java:45-106): a Catalyst-pushed predicate over
    doc_map columns, evaluated as a per-shard allowed-doc mask inside
    the postings kernel, so it composes like any other leaf in any
    boolean position and scores 0.0. Frozen: the kernel looks up a
    leaf's mask by value. ``fields`` is the expanded field-mapping
    target list (FieldTypeUtil.expandFields applies to query-side
    range fields too) — >1 field ORs the per-field predicates."""

    fields: tuple[str, ...]
    lo: str | None
    hi: str | None
    incl_lo: bool
    incl_hi: bool
    # lenient: the field list came from a PATTERN expansion spanning
    # differently-typed columns — a bound that doesn't parse for one
    # column's type makes that column match nothing instead of
    # failing the query (the reference builds one point query per
    # matched index field; a field whose type can't represent the
    # value contributes no hits)
    lenient: bool = False


@dataclass(frozen=True)
class RNumericSet:
    """zl:ns(...) — ZuliaNumericSetQueryNode (SetQueryHelper
    .getNumericSetQuery:24-89): ``field ∈ {values}`` over numeric doc
    values, a kernel mask leaf like RRange. MUST_NOT follows Lucene
    semantics (docs without the field are kept)."""

    fields: tuple[str, ...]
    values: tuple[str, ...]


@dataclass(frozen=True)
class RGeo:
    """zl:geo / zl:geoBbox resolved to a doc-values predicate over a
    stored ``array<double> [lat, lon]`` column — the Spark analogue
    of LatLonPoint.newDistanceQuery / newBoxQuery
    (ZuliaGeoDistanceQueryNode / ZuliaGeoBboxQueryNode)."""

    kind: str  # "geo" | "geo_bbox"
    fields: tuple[str, ...]
    args: tuple[float, ...]


DV_LEAVES = (RRange, RNumericSet, RGeo)


def _meta_field(name: str) -> str:
    """|field| → _zcl_field (char length), |||field||| → _zll_field
    (list length) — FieldTypeUtil.getCharLengthWrap/getListLengthWrap
    (FieldTypeUtil.java:108-115); the meta columns are written by
    IndexConfig.store_length_meta."""
    if name.startswith("|||") and name.endswith("|||") and len(name) > 6:
        return "_zll_" + name[3:-3]
    if name.startswith("|") and name.endswith("|") and len(name) > 2:
        return "_zcl_" + name[1:-1]
    return name


def resolve_tree(
    node,
    analyze,
    default_fields: tuple[str, ...],
    expand_wildcard,
    expand_fuzzy,
    default_op: str = "OR",
    expand_field=None,
    date_fields: frozenset[str] = frozenset(),
    all_fields: tuple[str, ...] = (),
    pattern_point_fields: frozenset[str] = frozenset(),
):
    """Raw AST → resolved AST. ``expand_wildcard(field, regex)`` and
    ``expand_fuzzy(field, term, edits)`` enumerate the term
    dictionary (driver-side, pushdown-pruned scans). ``expand_field``
    resolves field-mapping aliases (IndexConfig.expand_field).
    ``date_fields`` names stored date/timestamp columns: a bare term
    on one (``added:2024``, ``added:2024-06-17``) resolves to the
    period's RANGE, Zulia's DATE point-query coercion
    (ZuliaPointQueryNodeProcessor / DateStringTest semantics).
    ``all_fields`` lists every indexed field: ``*:*`` resolves to an
    exists-union over them — MatchAllDocsQuery semantics for any doc
    with at least one indexed non-null field (a doc whose indexed
    fields are ALL null is invisible to this form, a documented
    deviation from Lucene's segment-level match-all).
    ``pattern_point_fields`` are the point fields a bare field PATTERN
    probes: the configured ones among ``date_fields``."""
    if expand_field is None:
        expand_field = lambda f: (f,)  # noqa: E731

    def field_targets(scoped_field):
        """(field, boost) targets: scoped fields boost 1.0; default
        fields may carry ``field^N`` boosts
        (QueryParserEdgeCaseTest.validFieldBoostTest)."""
        from zuliasearch_spark.search.query import expand_boosted_fields

        if scoped_field:
            return tuple((f, 1.0) for f in dict.fromkeys(expand_field(scoped_field)))
        return expand_boosted_fields(tuple(default_fields), expand_field)

    def point_pattern_fields(pat: str) -> tuple[str, ...]:
        """Configured doc-values-only point fields
        (``pattern_point_fields``) matched by a bare field PATTERN —
        the reference expands patterns against ALL user-indexed fields
        including point-typed ones
        (ServerIndexConfigData.getMatchingIndexFields;
        FieldWildcardTest), so ``*:2`` probes NUMERIC fields too, but
        never internal or unconfigured columns. Same ``*``-only
        pattern syntax as IndexConfig."""
        if "*" not in pat:
            return ()
        prx = re.compile("^" + ".*".join(re.escape(p) for p in pat.split("*")) + "$")
        return tuple(sorted(f for f in pattern_point_fields if prx.match(f)))

    conj = default_op.upper() == "AND"
    if isinstance(node, Bool):
        children = tuple(
            (
                occur,
                resolve_tree(
                    c, analyze, default_fields, expand_wildcard, expand_fuzzy,
                    default_op, expand_field, date_fields, all_fields,
                    pattern_point_fields,
                ),
            )
            for occur, c in node.children
        )
        return RBool(children, node.mm, node.boost)
    if isinstance(node, Range):
        if node.field is None:
            raise ParseError("range needs a field")
        meta = _meta_field(node.field)
        if "*" in node.field:
            # field pattern: wrap-shaped patterns expand against the
            # length-wrap names then map to meta columns; bare
            # patterns against user-indexed fields PLUS
            # doc-values-only point fields (FieldWildcardTest parity
            # — the reference's getMatchingIndexFields covers numeric
            # index fields). Empty expansion → match no docs
            # (MatchNoDocsQueryNode).
            targets = tuple(
                dict.fromkeys(
                    [_meta_field(f) for f in expand_field(node.field)]
                    + list(point_pattern_fields(node.field))
                )
            )
            if not targets:
                return RLeaf((), conj=False, boost=1.0)
            return RRange(
                targets, node.lo, node.hi, node.incl_lo, node.incl_hi, lenient=True
            )
        elif meta != node.field:
            targets = (meta,)  # |field| meta columns never alias-expand
        else:
            targets = tuple(dict.fromkeys(expand_field(node.field)))
        if not targets:
            return RLeaf((), conj=False, boost=1.0)
        return RRange(targets, node.lo, node.hi, node.incl_lo, node.incl_hi)
    if isinstance(node, ZlGeo):
        geo_targets = tuple(dict.fromkeys(expand_field(node.field)))
        if not geo_targets:
            return RLeaf((), conj=False, boost=1.0)
        return RGeo(node.kind, geo_targets, node.args)
    if isinstance(node, ZlSet):
        if node.kind == "ns":
            ns_targets = tuple(dict.fromkeys(expand_field(node.field)))
            if not ns_targets:
                return RLeaf((), conj=False, boost=1.0)
            return RNumericSet(ns_targets, node.values)
        from zuliasearch_spark.search.query import TermSetSpec

        fields = field_targets(node.field)
        specs = tuple(
            TermSetSpec(f, node.values, required=False, group=0, subgroup=sub, boost=fb)
            for sub, (f, fb) in enumerate(fields)
        )
        return RLeaf(specs, conj=False, boost=node.boost)
    if isinstance(node, Interval):
        from zuliasearch_spark.search.intervals import leaf_terms
        from zuliasearch_spark.search.query import IntervalSpec

        fields = field_targets(node.field)
        if not fields:
            if node.field is not None and "*" in node.field:
                return RLeaf((), conj=False, boost=node.boost)
            raise ParseError("no default fields for interval function")
        ispecs = []
        for sub, (f, fb) in enumerate(fields):
            if node.tree is not None:
                rtree = pull_up_disjunctions(
                    _resolve_isrc(node.tree, f, analyze, expand_wildcard, expand_fuzzy)
                )
                terms = leaf_terms(rtree)
                if terms:
                    ispecs.append(
                        IntervalSpec(
                            f, terms, ordered=True, max_gaps=-1, tree=rtree,
                            required=True, group=0, subgroup=sub, boost=fb,
                        )
                    )
                continue
            terms = tuple(analyze(f, " ".join(node.words)))
            if terms:
                ispecs.append(
                    IntervalSpec(
                        f, terms, node.ordered, node.max_gaps,
                        required=True, group=0, subgroup=sub, boost=fb,
                    )
                )
        return RLeaf(tuple(ispecs), conj=False, boost=node.boost)
    assert isinstance(node, Leaf)
    if (
        node.field is not None
        and not node.phrase
        and not node.regex
        and node.fuzzy is None
        and _meta_field(node.field) != node.field
    ):
        # bare |field|:N / |||field|||:N point query on a length-meta
        # column (NullEmptyTest "|title|:0") — numeric point coercion.
        # Wrap-shaped PATTERNS (|*Title|:11, FieldWildcardTest) expand
        # against the length-wrap names first; empty → match no docs.
        if "*" in node.field:
            metas = tuple(_meta_field(f) for f in dict.fromkeys(expand_field(node.field)))
            if not metas:
                return RLeaf((), conj=False, boost=node.boost)
        else:
            metas = (_meta_field(node.field),)
        v = _unescape(node.text)
        return RRange(metas, v, v, True, True)
    if node.field == "*" and node.text == "*" and not node.phrase and not node.regex:
        # *:* match-all (QueryUtil fixNegativeQuery appends it;
        # NullEmptyTest "(*:* -title:*) OR title:boring"): constant
        # score 1.0 over the union of every field's exists stream
        targets = tuple(dict.fromkeys(all_fields)) or tuple(default_fields)
        return RLeaf(
            tuple(
                ExistsSpec(f, required=False, group=0, subgroup=sub)
                for sub, f in enumerate(targets)
            ),
            conj=False,
            boost=node.boost,
        )
    if (
        node.field is not None
        and node.field in date_fields
        and not node.regex
        and node.fuzzy is None
    ):
        # DATE point query: added:2024 matches the whole year,
        # added:2024-06-17 the day — the period becomes an inclusive
        # range whose bounds the doc-values predicate expands
        # (DateStringTest; ZuliaPointQueryNodeProcessor coercion).
        # QUOTED values are the documented escape for the ':' in a
        # full timestamp (QueryParserTest.quotedTimestampQueryTest:
        # added:"2024-06-17T16:10:00Z" == the single-instant range),
        # so phrase leaves coerce the same way.
        v = _unescape(node.text)
        return RRange((node.field,), v, v, True, True)
    fields = field_targets(node.field)
    # bare field PATTERNS also probe doc-values-only point fields as
    # an inclusive point query — getMatchingIndexFields covers
    # NUMERIC index fields, so ``*:2`` matches an int field holding 2
    # (FieldWildcardTest). Exists/phrase/regex/fuzzy/wildcard values
    # stay postings-only (point fields have no term dictionary).
    point_targets: tuple[str, ...] = ()
    if (
        node.field is not None
        and "*" in node.field
        and not node.phrase
        and not node.regex
        and node.fuzzy is None
        and node.text != "*"
        and "*" not in node.text
        and "?" not in node.text
    ):
        point_targets = point_pattern_fields(node.field)
    if not fields:
        if node.field is not None and "*" in node.field:
            if point_targets:
                v = _unescape(node.text)
                return RRange(point_targets, v, v, True, True, lenient=True)
            # field pattern matched nothing → match no docs
            # (ZuliaMultiFieldQueryNodeProcessor MatchNoDocsQueryNode)
            return RLeaf((), conj=False, boost=node.boost)
        raise ParseError(f"no default fields for term {node.text!r}")
    specs = []
    if node.text == "*" and not node.phrase and not node.regex:
        # pure wildcard field:* → field exists
        for sub, (f, _fb) in enumerate(fields):
            specs.append(ExistsSpec(f, required=False, group=0, subgroup=sub))
        return RLeaf(tuple(specs), conj=False, boost=node.boost)
    for sub, (f, fb) in enumerate(fields):
        if node.phrase:
            terms = tuple(analyze(f, node.text))
            if len(terms) == 1 and node.slop == 0:
                specs.append(TermSpec(f, terms[0], required=False, group=0, subgroup=sub, boost=fb))
            elif terms:
                specs.append(PhraseSpec(f, terms, node.slop, required=True, group=0, subgroup=sub, boost=fb))
        elif node.regex:
            for t in expand_wildcard(f, node.text):
                specs.append(TermSpec(f, t, required=False, group=0, subgroup=sub, boost=fb))
        elif node.fuzzy is not None:
            base = analyze(f, node.text)
            seed = base[0] if base else node.text.lower()
            for t in expand_fuzzy(f, seed, node.fuzzy):
                specs.append(TermSpec(f, t, required=False, group=0, subgroup=sub, boost=fb))
        elif "*" in node.text or "?" in node.text:
            # wild*card → anchored regex over the dictionary
            # (ZuliaSyntaxParser wildcard terms → TermInSet expansion)
            rx = "^" + re.escape(node.text).replace(r"\*", ".*").replace(r"\?", ".") + "$"
            for t in expand_wildcard(f, rx):
                specs.append(TermSpec(f, t, required=False, group=0, subgroup=sub, boost=fb))
        else:
            for t in analyze(f, node.text):
                specs.append(TermSpec(f, t, required=conj, group=0, subgroup=sub, boost=fb))
    # expansion sets (wildcard/fuzzy/regex) OR their terms even under
    # a default-AND operator: mark disjunction by conj=False
    is_expansion = node.regex or node.fuzzy is not None or "*" in node.text or "?" in node.text
    leaf = RLeaf(tuple(specs), conj=conj and not is_expansion and not node.phrase, boost=node.boost)
    if point_targets:
        # pattern spanned text AND point fields: OR the postings leaf
        # with the inclusive point query (one SHOULD group each —
        # a doc matches via either namespace, like the reference's
        # per-matched-field OR expansion)
        v = _unescape(node.text)
        return RBool(
            (
                (SHOULD, leaf),
                (SHOULD, RRange(point_targets, v, v, True, True, lenient=True)),
            ),
            mm=0,
            boost=1.0,
        )
    return leaf


def _resolve_isrc(node: ISrc, field: str, analyze, expand_wildcard, expand_fuzzy) -> ISrc:
    """Parse-time source tree → eval-time tree: text leaves analyzed
    (multi-token analysis becomes an adjacency block — Lucene
    AnalyzedText → Intervals.phrase of the token stream); wildcard /
    fuzzyTerm leaves expanded against the term dictionary into or()
    sources. Expansion sets are capped (maxExpansions, default 128,
    dictionary order) — Lucene throws past the cap; truncating keeps
    huge dictionaries queryable and is documented here."""
    if node.kind == "text":
        toks = tuple(analyze(field, node.term))
        if not toks:
            return ISrc("none")
        if len(toks) == 1:
            return ISrc("term", term=toks[0])
        return ISrc("phrase", tuple(ISrc("term", term=t) for t in toks))
    if node.kind == "wildcard":
        rx = "^" + re.escape(node.term).replace(r"\*", ".*").replace(r"\?", ".") + "$"
        cap = node.n or 128
        terms = sorted(expand_wildcard(field, rx))[:cap]
        if not terms:
            return ISrc("none")
        return ISrc("or", tuple(ISrc("term", term=t) for t in terms))
    if node.kind == "fuzzy":
        base = analyze(field, node.term)
        seed = base[0] if base else node.term.lower()
        cap = node.n2 or 128
        terms = sorted(expand_fuzzy(field, seed, node.n))[:cap]
        if not terms:
            return ISrc("none")
        return ISrc("or", tuple(ISrc("term", term=t) for t in terms))
    return ISrc(
        node.kind,
        tuple(
            _resolve_isrc(c, field, analyze, expand_wildcard, expand_fuzzy)
            for c in node.children
        ),
        n=node.n,
        n2=node.n2,
    )


def tree_stat_keys(node) -> set[tuple[str, str]]:
    """(field, term) pairs needing stats/postings, plus (field, None)
    for exists leaves (norms rows)."""
    out: set[tuple[str, str]] = set()
    if isinstance(node, RBool):
        for _, c in node.children:
            out |= tree_stat_keys(c)
    elif isinstance(node, RLeaf):
        from zuliasearch_spark.search.query import IntervalSpec, TermSetSpec

        for s in node.specs:
            if isinstance(s, (PhraseSpec, IntervalSpec, TermSetSpec)):
                out.update(s.stat_keys)
            elif isinstance(s, ExistsSpec):
                out.add((s.field, None))
            else:
                out.add((s.field, s.term))
    return out


def tree_dv_leaves(node) -> list:
    """Every RRange / RNumericSet / RGeo leaf of a resolved tree, in
    any boolean position."""
    if isinstance(node, RBool):
        return [leaf for _, c in node.children for leaf in tree_dv_leaves(c)]
    return [node] if isinstance(node, DV_LEAVES) else []


def tree_has_positive_leaf(node) -> bool:
    """A doc-values leaf counts: it matches docs on its own."""
    if isinstance(node, RBool):
        return any(
            occur != MUST_NOT and tree_has_positive_leaf(c) for occur, c in node.children
        )
    return isinstance(node, (RLeaf, *DV_LEAVES))
