"""Lucene-lite query-string parser for the composed search surface.

The reference accepts a raw user query string at its search RPCs and
tokenizes/weights it server-side (srpc/PageSearch/server.pb_skeleton.cc:
154-170 via cut_weight); this module is the user-facing grammar on top of
the same engine, compiled by ``Bm25CompressedIndex.search_query`` into ONE
exact per-part scoring pass (never a lossy post-filter chain):

    data +value -merge quer* "exact phrase" lang:de

  bare term    scored; required in mode='and', optional in mode='or'
  +term        required (MUST) in either mode
  -term        boolean NOT: docs containing it never appear
  term*        prefix expansion (SHOULD: adds score, never required;
               a leading '+' is accepted but does not make it required)
  "a b"        exact phrase (required; terms adjacent and in order)
  "a b"~3      unordered proximity (required; all terms within a
               3-position window, any order)
  term^2       boost: this occurrence contributes qtf 2.0 instead of 1.0
               (the reference's cut_weight query-side weighting analog;
               composes with +: `+term^2`); sugar for repeating the term
  term~1       fuzzy: expands to dictionary terms within edit distance 1
               (max 2, Lucene-style; SHOULD, qtf=1 per expansion, like
               prefixes — adds score, never required)
  /pattern/    regexp term (whole-term match, Lucene RegexpQuery analog):
               expands to matching dictionary terms (SHOULD, qtf=1, like
               prefixes); no spaces inside the slashes
  te?m, a*b    wildcard term (Lucene WildcardQuery): ``?`` = one char,
               ``*`` = any run; compiled to a whole-term regexp clause.
               A trailing-star-only term stays the (cheaper) prefix form;
               a bare ``*`` stays a literal term
  field:value  metadata facet (equality against the docs table)
  field:a,b    multi-value facet: field equals ANY listed value (OR
               within the field)
  field:[lo TO hi]
               range facet, bounds inclusive (Lucene range syntax);
               ``*`` = unbounded. Numeric comparison when every bound
               given parses as a number, else lexicographic on the
               string form; ``[* TO *]`` = field is non-null.

Repeated facet fields are CONJUNCTIVE — ``lang:de lang:en`` requires both
(empty result for a single-valued column; the OR form is ``lang:de,en``).
Each clause is kept as its own (field, constraint) pair, never last-wins.

Parsing is pure Python on a <1 KB string — driver-side by design, like
query tokenization (plans/bm25_dataframe.tokenize_query).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# quoted span | /regexp/ | field:[bracket range] (spaces ok) | bare clause
_CLAUSE_RE = re.compile(r'([+-]?)("([^"]*)"(~\d+)?|/[^/\s]+/|\S+:\[[^\]]*\]|\S+)')
_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
_FUZZY_RE = re.compile(r"^(.+?)~(\d+)$")
_RANGE_TO_RE = re.compile(r"\s+TO\s+")


@dataclass
class QuerySpec:
    should: list[str] = field(default_factory=list)  # bare terms
    must: list[str] = field(default_factory=list)  # +terms
    exclude: list[str] = field(default_factory=list)  # -terms
    phrases: list[str] = field(default_factory=list)  # "..." spans
    nears: list[tuple[str, int]] = field(default_factory=list)  # "..."~W
    prefixes: list[str] = field(default_factory=list)  # term*
    fuzzies: list[tuple[str, int]] = field(default_factory=list)  # term~D
    regexps: list[str] = field(default_factory=list)  # /pattern/
    #: (field, constraint) pairs, applied conjunctively; constraint is
    #: ("eq", value) | ("in", [values]) | ("range", lo, hi) with "*" =
    #: unbounded
    facets: list[tuple[str, tuple]] = field(default_factory=list)
    boosts: list[tuple[str, float]] = field(default_factory=list)  # term^B

    @property
    def has_positive(self) -> bool:
        return bool(
            self.should
            or self.must
            or self.phrases
            or self.nears
            or self.prefixes
            or self.fuzzies
            or self.regexps
        )


def parse_query(query: str) -> QuerySpec:
    """Parse a query string into a QuerySpec. Raises ValueError on clauses
    the engine cannot execute exactly (negated phrases/prefixes/facets)
    and on malformed ones (a bad range facet, a fuzzy distance over 2, a
    /regexp/ that does not compile) — failing loudly beats silently
    returning wrong results."""
    spec = QuerySpec()
    for m in _CLAUSE_RE.finditer(query):
        sign, raw, quoted, slop = m.group(1), m.group(2), m.group(3), m.group(4)
        if quoted is not None:
            if sign == "-":
                raise ValueError(f'negated phrase not supported: -"{quoted}"')
            if quoted.strip():
                if slop is not None:
                    # "a b"~W = unordered proximity, max position span W
                    spec.nears.append((quoted, int(slop[1:])))
                else:
                    spec.phrases.append(quoted)
            continue
        if raw.startswith("/") and raw.endswith("/") and len(raw) > 2:
            if sign == "-":
                raise ValueError(f"negated regexp not supported: -{raw}")
            # whole-term regexp (Lucene RegexpQuery analog): SHOULD
            # expansion against the dictionary, qtf=1, like prefixes
            pat = raw[1:-1].lower()
            try:
                re.compile(pat)
            except re.error as e:
                raise ValueError(f"invalid regexp {raw}: {e}") from None
            spec.regexps.append(pat)
            continue
        boost = None
        bm = _BOOST_RE.match(raw)
        if bm is not None:
            raw, boost = bm.group(1), float(bm.group(2))
        fm = _FUZZY_RE.match(raw)
        if fm is not None:
            if sign == "-":
                raise ValueError(f"negated fuzzy not supported: -{raw}")
            if boost is not None:
                raise ValueError(f"boost on a fuzzy term not supported: {raw}^{boost:g}")
            dist = int(fm.group(2))
            if dist > 2:
                raise ValueError(f"fuzzy distance > 2 not supported: {raw}")
            spec.fuzzies.append((fm.group(1).lower(), dist))
            continue
        if raw.endswith("*") and len(raw) > 1 and "*" not in raw[:-1] and "?" not in raw:
            if sign == "-":
                raise ValueError(f"negated prefix not supported: -{raw}")
            if boost is not None:
                raise ValueError(f"boost on a prefix not supported: {raw}^{boost:g}")
            spec.prefixes.append(raw[:-1].lower())
            continue
        if ":" in raw[1:-1]:  # field:value (':' not at either edge)
            if sign == "-":
                raise ValueError(f"negated facet not supported: -{raw}")
            if boost is not None:
                raise ValueError(f"boost on a facet not supported: {raw}^{boost:g}")
            k, v = raw.split(":", 1)
            if v.startswith("[") and v.endswith("]"):
                bounds = _RANGE_TO_RE.split(v[1:-1].strip())
                if len(bounds) != 2 or not all(bounds):
                    raise ValueError(
                        f"range facet must be {k}:[lo TO hi] (got {raw})"
                    )
                spec.facets.append((k, ("range", bounds[0], bounds[1])))
            elif "," in v:
                vals = [p for p in v.split(",") if p]
                if not vals:
                    raise ValueError(f"empty multi-value facet: {raw}")
                spec.facets.append((k, ("in", vals)))
            else:
                spec.facets.append((k, ("eq", v)))
            continue
        if len(raw) > 1 and ("*" in raw or "?" in raw):
            # wildcard term (Lucene WildcardQuery): * = any run, ? = one
            # char; compiled to a whole-term regexp and expanded like
            # /pattern/ (trailing-star-only terms took the cheaper prefix
            # path above)
            if sign == "-":
                raise ValueError(f"negated wildcard not supported: -{raw}")
            if boost is not None:
                raise ValueError(f"boost on a wildcard not supported: {raw}^{boost:g}")
            spec.regexps.append(
                "".join(
                    ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
                    for ch in raw.lower()
                )
            )
            continue
        if boost is not None and sign != "-":  # boost on NOT is meaningless
            spec.boosts.append((raw.lower(), boost))
        if sign == "-":
            spec.exclude.append(raw.lower())
        elif sign == "+":
            spec.must.append(raw.lower())
        else:
            spec.should.append(raw.lower())
    return spec
