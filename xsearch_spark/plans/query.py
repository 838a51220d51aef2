"""Query parser (SURVEY.md Q1; semantics frozen in FIXTURES.md §3.3).

Grammar (xsearch-style free-text term bag, plus the pinned extensions):

  * bare terms           -> implicit AND over distinct analyzed terms
  * ``OR`` keyword       -> switches the connective to union
  * ``lang:X`` prefix    -> field filter on the ``lang`` column
  * ``field:X`` prefix   -> generic attribute filter (round-5): any
                            field named in ``attr_fields`` — matching
                            the index's v5 synthetic attr postings
                            (license/domain/source filters on a real
                            corpus). ``lang`` keeps its dedicated slot
                            (it alone has a source fallback);
                            other fields require an attr-indexed build.
  * ``-term``            -> NOT: exclude docs containing term
  * ``"quoted span"``    -> PHRASE (round 5, v6 positional index): the
                            analyzed terms must occur at consecutive
                            positions in order. Phrase terms also join
                            the scored term set, and a query containing
                            any phrase is forced to AND semantics —
                            frozen: scoring is IDENTICAL to the same
                            query unquoted; the phrase only adds an
                            adjacency predicate (so the naive-SQL
                            oracle is the unquoted AND query plus a
                            token-array adjacency filter).
  * ``"quoted span"~N``  -> PROXIMITY (round 6): ordered-window
                            generalization of PHRASE with slop N —
                            the m analyzed terms must occur IN ORDER
                            at strictly increasing positions i_1 < …
                            < i_m with span i_m - i_1 <= (m-1) + N.
                            N = 0 is exactly PHRASE (consecutive);
                            scoring stays identical to the unquoted
                            query, the window is only a filter
                            (FIXTURES.md §3.8).
  * ``body~1`` / ``body~`` -> FUZZY (round 6, FIXTURES.md §3.12): the
                            doc must contain >= 1 vocabulary term over
                            the term alphabet within plain Levenshtein
                            distance 1 of ``body`` (which itself
                            qualifies at distance 0). Every matching
                            term the doc contains is scored exactly
                            like a bare term (distinct-term sum,
                            counted once even when it is also a plain
                            query term). ``-body~1`` excludes docs
                            containing ANY term in the neighborhood.
                            ``body~0`` degrades to the plain term;
                            ``~N`` with N > 1 RAISES (frozen cap —
                            the d=1 neighborhood is exactly
                            enumerable, d=2 is not); a body that is
                            not a single ``[a-z0-9_]+`` term shape
                            degrades to plain analysis (``~`` is a
                            separator char and vanishes).
  * ``body*``            -> PREFIX (round 6, FIXTURES.md §3.10): a
                            trailing ``*`` on a token whose lowercased
                            body is a single valid term shape
                            ``[a-z0-9_]+`` makes it a prefix group:
                            the doc must contain AT LEAST ONE
                            vocabulary term starting with ``body``
                            (under AND; under OR any expansion hit
                            counts), and every matching term the doc
                            contains is scored exactly like a bare
                            term (distinct-term sum — a term that is
                            both a plain query term and a prefix
                            expansion is counted once). ``-body*``
                            excludes docs containing ANY term with the
                            prefix. Any other ``*`` placement degrades
                            to plain analysis (the ``*`` is a
                            separator char and vanishes).

  * ``(a OR b ...)``     -> BOOLEAN GROUP (round 6, FIXTURES.md
                            §3.19): the doc must contain >= 1 of the
                            members' analyzed terms (under AND; under
                            OR the group degenerates to its member
                            bag). Members score like bare terms.
                            ``-(a OR b)`` excludes docs containing ANY
                            member. Members must be single
                            ``[A-Za-z0-9_]+`` tokens (else raise);
                            parens without an OR keyword inside stay
                            plain text (separator chars). Same group
                            semantics as prefix/fuzzy groups with an
                            explicit member set.

  * ``wi*rd``            -> WILDCARD group (round 6, FIXTURES.md
                            §3.24): >= 1 vocabulary term matching the
                            anchored glob (``*`` = any term-char run);
                            members score like bare terms; ``-pat``
                            excludes. Leading ``*`` raises (no scan
                            bound); a single trailing ``*`` stays a
                            PREFIX group.
  * ``synonyms=``        -> SYNONYM EXPANSION (round 6, FIXTURES.md
                            §3.21, a parse() kwarg not query syntax):
                            positive plain terms with an entry become
                            the boolean group ``(term OR alts...)`` —
                            pure §3.19 rewrite, no engine machinery.
  * ``min_match:N``      -> MINIMUM SHOULD MATCH (round 6, FIXTURES.md
                            §3.20): under OR, the doc must satisfy
                            >= N positive clauses (plain term = one
                            clause; each prefix/fuzzy/boolean group =
                            one clause). Only a filter — scoring is
                            unchanged. Raises under AND.

Driver-side only — a query is one string; nothing to distribute.
Duplicate terms count once (FIXTURES.md §3.2).
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field

from xsearch_spark.functions.tokenize import tokenize_query

DEFAULT_ATTR_FIELDS: tuple[str, ...] = ("lang",)

_PHRASE_RE = re.compile(r'"([^"]*)"(?:~(\d+))?')
_MAX_PHRASE_LEN = 64  # = operators.wand.MAX_PHRASE_LEN (no import cycle)
_MAX_FUZZY_LEN = 64  # = constants.MAX_FUZZY_LEN (bounds the neighborhood)
# a prefix body must be ONE term under every analyzer's charset (the
# base/code emission alphabet) — anything else keeps plain-text
# semantics so `foo-bar*` or `*` alone never silently become filters
_PREFIX_BODY_RE = re.compile(r"[a-z0-9_]+\Z")
_WILDCARD_CHARS_RE = re.compile(r"[a-z0-9_*]+\Z")
# a fuzzy token is body~[N] with the same single-term body shape; the
# distance digits are validated separately (only 0/absent/1 are legal)
_FUZZY_TOKEN_RE = re.compile(r"(?P<body>[a-z0-9_]+)~(?P<d>\d*)\Z")
# a boost token is term^N[.M] (round-6, FIXTURES.md §3.15): the term's
# BM25 weight is multiplied by N.M in the per-doc sum
_BOOST_TOKEN_RE = re.compile(r"(?P<body>[a-z0-9_]+)\^(?P<b>\d+(?:\.\d+)?)\Z")
# numeric range filter values (round-6, FIXTURES.md §3.13):
# `field:>=N` / `field:>N` / `field:<=N` / `field:<N` / `field:lo..hi`
_RANGE_CMP_RE = re.compile(r"(?P<op>>=|>|<=|<)(?P<n>-?\d+)\Z")
_RANGE_DOTS_RE = re.compile(r"(?P<lo>-?\d+)\.\.(?P<hi>-?\d+)\Z")
# boolean OR-groups (round-6, FIXTURES.md §3.19): an innermost
# parenthesized span, optionally negated; recognized as a group only
# when its contents contain the OR keyword (else the text is left in
# place and the parens vanish as separator chars — pre-§3.19 behavior)
_GROUP_RE = re.compile(r"(-?)\(([^()]*)\)")
# a group member must be ONE raw token of the term alphabet (upper case
# allowed — analysis lowercases); anything fancier inside a group raises
_GROUP_MEMBER_RE = re.compile(r"[A-Za-z0-9_]+\Z")
# phrase-prefix (round-6, FIXTURES.md §3.28): the LAST whitespace token
# of a quoted span may end in exactly one '*' — its body must analyze
# to ONE term under the query's variant, else the span keeps plain
# phrase semantics (the '*' is a separator char and vanishes)
_PHRASE_PREFIX_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+\*\Z")


@dataclass(frozen=True)
class ParsedQuery:
    terms: tuple[str, ...]  # distinct, first-occurrence order
    connective: str = "AND"  # "AND" | "OR"
    lang: str | None = None
    exclude: tuple[str, ...] = field(default_factory=tuple)
    # generic (field, value) attribute filters beyond lang (v5 attr
    # postings); AND semantics with everything else
    attrs: tuple[tuple[str, str], ...] = field(default_factory=tuple)
    # phrases (v6 positional index): each is the analyzed term sequence
    # of one quoted span, len >= 2 (shorter spans degrade to plain terms)
    phrases: tuple[tuple[str, ...], ...] = field(default_factory=tuple)
    # per-phrase slop (round-6 proximity, FIXTURES.md §3.8): parallel to
    # ``phrases`` when set; an empty tuple means all-zero (plain phrase)
    # so every pre-round-6 constructor keeps its meaning
    phrase_slops: tuple[int, ...] = field(default_factory=tuple)
    # prefix groups (round-6, FIXTURES.md §3.10): each entry requires
    # >= 1 vocabulary term starting with it (AND), expansions scored
    # like bare terms; exclude_prefixes drop docs containing ANY term
    # with the prefix
    prefixes: tuple[str, ...] = field(default_factory=tuple)
    exclude_prefixes: tuple[str, ...] = field(default_factory=tuple)
    # fuzzy groups (round-6, FIXTURES.md §3.12): each entry requires
    # >= 1 vocabulary term within Levenshtein distance 1 of the body;
    # neighborhood members score like bare terms; exclude_fuzzies drop
    # docs containing ANY neighborhood term
    fuzzies: tuple[str, ...] = field(default_factory=tuple)
    exclude_fuzzies: tuple[str, ...] = field(default_factory=tuple)
    # numeric range filters (round-6, FIXTURES.md §3.13): inclusive
    # (field, lo, hi) with None = unbounded, normalized at parse
    # (`field:>N` -> (N+1, None) etc.); pure filters, AND-intersected,
    # servable only on an index whose num_attr_fields carries the field
    ranges: tuple[tuple[str, int | None, int | None], ...] = field(
        default_factory=tuple
    )
    # per-term boosts (round-6, FIXTURES.md §3.15): term -> multiplier
    # applied to the term's BM25 weight in the per-doc sum; terms absent
    # here have boost 1.0. Connective/match semantics are unchanged —
    # boost only scales the score contribution.
    boosts: tuple[tuple[str, float], ...] = field(default_factory=tuple)
    # boolean OR-groups (round-6, FIXTURES.md §3.19): each entry is an
    # explicit member-term set; under AND the doc must contain >= 1
    # member (under OR the group degenerates to its member bag);
    # members score like bare terms. exclude_groups drop docs
    # containing ANY member. Same group semantics as prefixes/fuzzies
    # with the member set given explicitly instead of derived.
    groups: tuple[tuple[str, ...], ...] = field(default_factory=tuple)
    exclude_groups: tuple[tuple[str, ...], ...] = field(default_factory=tuple)
    # wildcard groups (round-6, FIXTURES.md §3.24): anchored glob
    # patterns over the term alphabet (`*` = any run); prefix-group
    # semantics with glob membership. exclude_wildcards drop docs
    # containing ANY matching term.
    wildcards: tuple[str, ...] = field(default_factory=tuple)
    exclude_wildcards: tuple[str, ...] = field(default_factory=tuple)
    # minimum should match (round-6, FIXTURES.md §3.20): under OR the
    # doc must satisfy >= min_match positive clauses (plain term = one
    # clause; each prefix/fuzzy/boolean group = one clause, satisfied
    # by >= 1 member). 0 = absent (plain OR). ONLY a filter — scoring
    # is unchanged. parse() raises when set under AND.
    min_match: int = 0
    # phrase-prefix (round-6, FIXTURES.md §3.28): parallel to
    # ``phrases`` when set ("" = exact phrase); a non-empty body b adds
    # one EXTRA final positional slot to phrase i matched by ANY
    # vocabulary term with prefix b (the §3.10 expansion set — parse()
    # also registers b in ``prefixes``, so candidate generation and
    # expansion scoring are the ordinary prefix-group machinery; the
    # positional slot is ONLY a filter, like every phrase). The empty
    # tuple means all-exact, so pre-§3.28 constructors keep meaning.
    phrase_prefixes: tuple[str, ...] = field(default_factory=tuple)


def phrase_slop(parsed: "ParsedQuery", i: int) -> int:
    """Slop of phrase ``i`` under the empty-means-all-zero convention."""
    slops = parsed.phrase_slops
    return slops[i] if i < len(slops) else 0


def phrase_prefix(parsed: "ParsedQuery", i: int) -> str:
    """Prefix body of phrase ``i`` ("" = exact phrase) under the
    empty-means-all-exact convention (FIXTURES.md §3.28)."""
    pfx = parsed.phrase_prefixes
    return pfx[i] if i < len(pfx) else ""


def boost_of(parsed: "ParsedQuery", term: str) -> float:
    """The term's boost multiplier (1.0 when unboosted; last declaration
    wins — FIXTURES.md §3.15)."""
    out = 1.0
    for t, b in parsed.boosts:
        if t == term:
            out = b
    return out


def parse(
    query: str,
    variant: str = "base",
    attr_fields: Sequence[str] = DEFAULT_ATTR_FIELDS,
    synonyms: "dict[str, Sequence[str]] | None" = None,
) -> ParsedQuery:
    """``attr_fields``: the field names recognized as ``field:value``
    filters — pass the index's ``attr_fields`` (plus "lang") so only
    genuinely filterable fields are parsed as filters; anything else
    stays query text (a colon inside prose must not silently become an
    empty filter).

    ``synonyms`` (round-6, FIXTURES.md §3.21): term -> alternatives.
    Every positive plain query term with an entry is rewritten into
    the boolean group ``(term OR alts...)`` — §3.19 semantics, so the
    engine paths, the SQL oracle, and min_match clause counting need
    no synonym-specific machinery. One-level rewrite; excluded terms,
    group/phrase members, and prefix/fuzzy bodies never expand."""
    connective = "AND"
    lang: str | None = None
    include: list[str] = []
    exclude: list[str] = []
    attrs: list[tuple[str, str]] = []
    phrases: list[tuple[str, ...]] = []
    slops: list[int] = []
    pprefixes: list[str] = []  # §3.28: "" = exact phrase, parallel
    prefixes: list[str] = []
    exclude_prefixes: list[str] = []
    wildcards: list[str] = []
    exclude_wildcards: list[str] = []
    fuzzies: list[str] = []
    exclude_fuzzies: list[str] = []
    ranges: list[tuple[str, int | None, int | None]] = []
    boosts: list[tuple[str, float]] = []
    fields = set(attr_fields)

    def _take_phrase(m: "re.Match[str]") -> str:
        raw = m.group(1)
        slop = int(m.group(2)) if m.group(2) is not None else 0
        rtoks = raw.split()
        if rtoks and _PHRASE_PREFIX_TOKEN_RE.fullmatch(rtoks[-1]):
            # §3.28 phrase-prefix: the span's LAST token ends in one '*'
            # and its body analyzes to ONE term -> that term becomes a
            # prefix-matched final positional slot; the preceding terms
            # are exact phrase members. The body also joins `prefixes`
            # (§3.10), so expansion scoring/candidate generation reuse
            # the prefix-group machinery verbatim — the positional slot
            # is ONLY a filter, like every phrase.
            body_terms = tuple(tokenize_query(rtoks[-1][:-1], variant))
            head = tuple(tokenize_query(" ".join(rtoks[:-1]), variant))
            if len(body_terms) == 1 and head:
                if len(head) + 1 > _MAX_PHRASE_LEN:
                    raise ValueError(
                        f"phrase of {len(head) + 1} analyzed terms exceeds "
                        f"the supported maximum of {_MAX_PHRASE_LEN}"
                    )
                body = body_terms[0]
                if (head, slop, body) not in zip(phrases, slops, pprefixes):
                    phrases.append(head)
                    slops.append(slop)
                    pprefixes.append(body)
                for t in head:  # exact members score like bare terms
                    if t not in include:
                        include.append(t)
                if body not in prefixes:
                    prefixes.append(body)
                return " "
            if len(body_terms) == 1 and not head:
                # bare "b*": a 1-slot span degrades to plain text, which
                # the §3.10 token rules then read as an ordinary prefix
                return " " + raw + " "
            # multi-term body (e.g. a code-variant compound): no single
            # dictionary prefix exists — keep plain phrase analysis
            # (the '*' is a separator char and vanishes below)
        toks = tuple(tokenize_query(raw, variant))
        if len(toks) > _MAX_PHRASE_LEN:
            # mirrors the scorer's composite-key bound (operators.wand.
            # MAX_PHRASE_LEN) — fail at parse, not mid-query
            raise ValueError(
                f"phrase of {len(toks)} analyzed terms exceeds the "
                f"supported maximum of {_MAX_PHRASE_LEN}"
            )
        if len(toks) >= 2:
            if (toks, slop, "") not in zip(phrases, slops, pprefixes):
                phrases.append(toks)
                slops.append(slop)
                pprefixes.append("")
            for t in toks:  # phrase terms are scored like bare terms
                if t not in include:
                    include.append(t)
            return " "
        return " " + raw + " "  # 0/1-term span: plain text

    query = _PHRASE_RE.sub(_take_phrase, query)
    groups: list[tuple[str, ...]] = []
    exclude_groups: list[tuple[str, ...]] = []

    def _take_group(m: "re.Match[str]") -> str:
        # §3.19: innermost parenthesized span. Only an OR-separated
        # member list is a group; anything else stays in place (the
        # parens are separator chars under every analyzer, so plain
        # `f(x)` queries keep their pre-§3.19 meaning).
        body = m.group(2)
        toks = body.split()
        if "OR" not in toks:
            return m.group(0)
        members: list[str] = []
        cur: list[str] = []
        for t in toks + ["OR"]:
            if t != "OR":
                cur.append(t)
                continue
            if len(cur) != 1:
                raise ValueError(
                    "boolean group members must be single plain terms "
                    f"separated by OR (FIXTURES.md §3.19); got ({body})"
                )
            members.append(cur[0])
            cur = []
        terms_g: list[str] = []
        for mtok in members:
            if not _GROUP_MEMBER_RE.fullmatch(mtok):
                raise ValueError(
                    f"boolean group member {mtok!r} is not a plain term "
                    "(no nested groups/phrases/prefixes/fuzzies/boosts/"
                    "field syntax inside a group — FIXTURES.md §3.19)"
                )
            emitted = tokenize_query(mtok, variant)
            if not emitted:
                raise ValueError(
                    f"boolean group member {mtok!r} analyzes to no terms"
                )
            for t in emitted:
                if t not in terms_g:
                    terms_g.append(t)
        neg = m.group(1) == "-"
        if len(terms_g) == 1:  # degenerate group: one distinct term
            target = exclude if neg else include
            if terms_g[0] not in target:
                target.append(terms_g[0])
        else:
            target_g = exclude_groups if neg else groups
            if tuple(terms_g) not in target_g:
                target_g.append(tuple(terms_g))
        return " "

    # fixpoint: consuming an inner group can expose an outer paren pair
    # (e.g. `((a OR b) OR c)` leaves `( OR c)`, which must then raise
    # via the empty-member rule); degrading matches return themselves,
    # so the loop terminates as soon as nothing changes
    while True:
        substituted = _GROUP_RE.sub(_take_group, query)
        if substituted == query:
            break
        query = substituted
    min_match = 0
    for token in query.split():
        if token == "OR":
            connective = "OR"
            continue
        if token.startswith("min_match:"):
            # §3.20: reserved token, intercepted before field parsing
            n = token[len("min_match:") :]
            if not n.isdigit() or int(n) < 1:
                raise ValueError(
                    f"min_match needs a positive integer, got {n!r} "
                    f"(FIXTURES.md §3.20)"
                )
            min_match = int(n)  # last declaration wins
            continue
        fld, sep, val = token.partition(":")
        if sep and fld in fields:
            rm = _RANGE_CMP_RE.fullmatch(val) or _RANGE_DOTS_RE.fullmatch(val)
            if rm is not None:  # round-6 §3.13: numeric range filter
                if "op" in rm.groupdict():
                    n = int(rm.group("n"))
                    op = rm.group("op")
                    bound = {
                        ">=": (n, None),
                        ">": (n + 1, None),
                        "<=": (None, n),
                        "<": (None, n - 1),
                    }[op]
                else:
                    bound = (int(rm.group("lo")), int(rm.group("hi")))
                r = (fld, bound[0], bound[1])
                if r not in ranges:
                    ranges.append(r)
                continue
            if fld == "lang":
                lang = val
            elif (fld, val) not in attrs:
                attrs.append((fld, val))
            continue
        neg = token.startswith("-")
        body = token[1:] if neg else token
        fm = _FUZZY_TOKEN_RE.fullmatch(body.lower())
        if fm is not None:
            d = fm.group("d")
            if d in ("", "1"):
                fb = fm.group("body")
                if len(fb) > _MAX_FUZZY_LEN:
                    raise ValueError(
                        f"fuzzy body of {len(fb)} chars exceeds the "
                        f"supported maximum of {_MAX_FUZZY_LEN}"
                    )
                target_f = exclude_fuzzies if neg else fuzzies
                if fb not in target_f:
                    target_f.append(fb)
                continue
            if d == "0":  # frozen: distance 0 is the plain term
                for term in tokenize_query(fm.group("body"), variant):
                    target = exclude if neg else include
                    if term not in target:
                        target.append(term)
                continue
            raise ValueError(
                f"fuzzy distance {d} unsupported: only edit distance 1 "
                f"is exactly enumerable over the term alphabet "
                f"(FIXTURES.md §3.12)"
            )
        bm = _BOOST_TOKEN_RE.fullmatch(body.lower())
        if bm is not None:
            # §3.15: term^N — the body's analyzed terms join the query
            # normally with their weights multiplied by N (boost on an
            # exclusion is meaningless and ignored: the doc is dropped)
            b = float(bm.group("b"))
            for term in tokenize_query(bm.group("body"), variant):
                target = exclude if neg else include
                if term not in target:
                    target.append(term)
                if not neg:
                    boosts.append((term, b))
            continue
        bl = body.lower()
        if "*" in bl:
            if bl.endswith("*") and "*" not in bl[:-1]:
                pre = bl[:-1]  # §3.10: single trailing '*' is a PREFIX
                if _PREFIX_BODY_RE.fullmatch(pre):
                    target_p = exclude_prefixes if neg else prefixes
                    if pre not in target_p:
                        target_p.append(pre)
                    continue
            elif _WILDCARD_CHARS_RE.fullmatch(bl):
                # §3.24: interior/repeated '*' over term chars
                if bl.startswith("*"):
                    raise ValueError(
                        f"leading-wildcard pattern {bl!r} has no literal "
                        "prefix to bound the dictionary scan "
                        "(FIXTURES.md §3.24)"
                    )
                target_w = exclude_wildcards if neg else wildcards
                if bl not in target_w:
                    target_w.append(bl)
                continue
            # invalid body (empty prefix, or chars outside the term
            # alphabet): degrade to plain analysis — '*' is a separator
        # analyze with the same chain as the index side (A3)
        for term in tokenize_query(body, variant):
            target = exclude if neg else include
            if term not in target:
                target.append(term)
    if synonyms:
        # §3.21: rewrite positive plain terms into boolean groups —
        # keys/values analyzed with the query's variant; one level only
        syn: dict[str, list[str]] = {}
        for key, vals in synonyms.items():
            kt = tokenize_query(str(key), variant)
            if len(kt) != 1:
                raise ValueError(
                    f"synonym key {key!r} must analyze to exactly one "
                    f"term; got {kt!r} (FIXTURES.md §3.21)"
                )
            syn[kt[0]] = [
                t for v in vals for t in tokenize_query(str(v), variant)
            ]
        new_include: list[str] = []
        for term in include:
            members = list(dict.fromkeys([term, *syn.get(term, ())]))
            if len(members) == 1:
                new_include.append(term)
            elif tuple(members) not in groups:
                groups.append(tuple(members))
        include = new_include
    if phrases:
        connective = "AND"  # frozen: phrases force conjunctive semantics
    if min_match and connective != "OR":
        # §3.20: msm applies to SHOULD clauses only — under AND
        # everything is already required (phrases force AND, so a
        # phrase + min_match query lands here too)
        raise ValueError(
            "min_match requires the OR connective (FIXTURES.md §3.20)"
        )
    return ParsedQuery(
        terms=tuple(include),
        connective=connective,
        lang=lang,
        exclude=tuple(exclude),
        attrs=tuple(attrs),
        phrases=tuple(phrases),
        phrase_slops=tuple(slops),
        phrase_prefixes=tuple(pprefixes) if any(pprefixes) else (),
        prefixes=tuple(prefixes),
        exclude_prefixes=tuple(exclude_prefixes),
        wildcards=tuple(wildcards),
        exclude_wildcards=tuple(exclude_wildcards),
        fuzzies=tuple(fuzzies),
        exclude_fuzzies=tuple(exclude_fuzzies),
        ranges=tuple(ranges),
        boosts=tuple(boosts),
        groups=tuple(groups),
        exclude_groups=tuple(exclude_groups),
        min_match=min_match,
    )
