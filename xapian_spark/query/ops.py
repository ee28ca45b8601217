"""Query tree — the relational algebra of the search engine.

Node set mirrors the reference's Query operators
(xapian-core/include/xapian/query.h, api/queryinternal.cc; operator
semantics per matcher/*.cc — see SURVEY.md §2.2):

Term, And, Or, AndNot, AndMaybe, Xor, Filter, Synonym, Max, ScaleWeight,
EliteSet, Phrase, Near, ValueRange/ValueGE/ValueLE, MatchAll, MatchNothing,
PostingSourceQuery (external (doc_id, score) DataFrame).

The tree is pure data; executor.py renders each node as SQL text and
plans the query as one statement.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Tuple


class Query:
    """Base class; use the subclasses below."""

    def terms(self) -> Tuple[str, ...]:
        """All weighted leaf terms, left-to-right (dups preserved)."""
        return ()

    def __and__(self, other: "Query") -> "Query":
        return And((self, other))

    def __or__(self, other: "Query") -> "Query":
        return Or((self, other))

    def __sub__(self, other: "Query") -> "Query":
        return AndNot(self, other)


@dataclass(frozen=True)
class Term(Query):
    term: str
    wqf: int = 1
    pos: int = 0

    def terms(self):
        return (self.term,)


@dataclass(frozen=True)
class _NAry(Query):
    children: Tuple[Query, ...]

    def __init__(self, children: Sequence[Query]):
        object.__setattr__(self, "children", tuple(
            c if isinstance(c, Query) else Term(c) for c in children))

    def terms(self):
        out = []
        for c in self.children:
            out.extend(c.terms())
        return tuple(out)


class And(_NAry):
    """Docs matching all children; weight = Σ children (multiandpostlist.cc)."""


class Or(_NAry):
    """Docs matching any child; weight = Σ matching children (orpostlist.cc)."""


class Xor(_NAry):
    """Docs matching an odd number of children (multixorpostlist.cc)."""


class Max(_NAry):
    """Weight = max of matching children's weights (maxpostlist.cc)."""


@dataclass(frozen=True)
class AndNot(Query):
    """Left minus right; right contributes no weight (andnotpostlist.cc)."""

    left: Query
    right: Query

    def __init__(self, left, right):
        object.__setattr__(self, "left",
                           left if isinstance(left, Query) else Term(left))
        object.__setattr__(self, "right",
                           right if isinstance(right, Query) else Term(right))

    def terms(self):
        return self.left.terms()


@dataclass(frozen=True)
class AndMaybe(Query):
    """Left required; right only adds weight (andmaybepostlist.cc)."""

    left: Query
    right: Query

    def __init__(self, left, right):
        object.__setattr__(self, "left",
                           left if isinstance(left, Query) else Term(left))
        object.__setattr__(self, "right",
                           right if isinstance(right, Query) else Term(right))

    def terms(self):
        return self.left.terms() + self.right.terms()


@dataclass(frozen=True)
class Filter(Query):
    """AND with a weightless boolean right side (QueryFilter,
    api/queryinternal.cc:1321-1340)."""

    left: Query
    right: Query

    def __init__(self, left, right):
        object.__setattr__(self, "left",
                           left if isinstance(left, Query) else Term(left))
        object.__setattr__(self, "right",
                           right if isinstance(right, Query) else Term(right))

    def terms(self):
        return self.left.terms()


class Synonym(_NAry):
    """Children scored as if one term: wdf = Σ children's wdf clamped to
    doclen, single weight calc (synonympostlist.cc:64-89)."""


@dataclass(frozen=True)
class ScaleWeight(Query):
    """Multiply subquery weights by factor ≥ 0 (QueryScaleWeight)."""

    child: Query
    factor: float

    def terms(self):
        return self.child.terms()


@dataclass(frozen=True)
class EliteSet(Query):
    """Keep the N children with highest maxweight, OR them
    (api/queryinternal.cc:164-174; default N=10, query.h:94-96)."""

    children: Tuple[Query, ...]
    set_size: int = 10

    def __init__(self, children, set_size: int = 10):
        object.__setattr__(self, "children", tuple(
            c if isinstance(c, Query) else Term(c) for c in children))
        object.__setattr__(self, "set_size", set_size)

    def terms(self):
        out = []
        for c in self.children:
            out.extend(c.terms())
        return tuple(out)


@dataclass(frozen=True)
class Phrase(Query):
    """Terms at consecutive positions in order within `window`
    (default = len(terms) → exact phrase, exactphrasepostlist.cc).
    An element may be a tuple of ALTERNATIVE terms (multi-prefix
    field in a positional context)."""

    terms_: Tuple[str, ...]
    window: Optional[int] = None

    def __init__(self, terms, window=None):
        object.__setattr__(self, "terms_", tuple(terms))
        object.__setattr__(self, "window", window)

    def terms(self):
        return [t for e in self.terms_
                for t in (e if isinstance(e, tuple) else (e,))]


@dataclass(frozen=True)
class Near(Query):
    """Terms in any order within `window` (default 10,
    queryparser.lemony:1661-1668; NearPostList). An element may be a
    tuple of ALTERNATIVE terms (multi-prefix field)."""

    terms_: Tuple[str, ...]
    window: Optional[int] = None

    def __init__(self, terms, window=None):
        object.__setattr__(self, "terms_", tuple(terms))
        object.__setattr__(self, "window", window)

    def terms(self):
        return [t for e in self.terms_
                for t in (e if isinstance(e, tuple) else (e,))]


@dataclass(frozen=True)
class ValueRange(Query):
    """Weightless filter: lo <= docs.column <= hi (valuerangepostlist.cc).
    Ends are optional → OP_VALUE_GE / OP_VALUE_LE."""

    column: str
    lo: object = None
    hi: object = None


class WildcardError(Exception):
    """Wildcard expanded to more terms than allowed — the analog of
    Xapian::WildcardError (include/xapian/error.h), raised under the
    reference's WILDCARD_LIMIT_ERROR behaviour."""


#: Default expansion ceiling. The reference defaults to unlimited, but
#: on a web-scale term dictionary an uncapped prefix collect() OOMs the
#: driver, so we bound it (callers can raise or lower per query via
#: Wildcard.max_expansion, QueryParser.set_max_wildcard_expansion).
DEFAULT_MAX_WILDCARD_EXPANSION = 10_000


@dataclass(frozen=True)
class Wildcard(Query):
    """Right-truncated wildcard ("wild*"): expanded at compile time
    against the term dictionary into an OP_SYNONYM over the matching
    terms (the 1.3 QueryParser FLAG_WILDCARD behavior,
    queryparser/queryparser_internal.h / queryparser.lemony
    WILD_TERM).

    limit = "error" raises WildcardError when more than max_expansion
    terms match (WILDCARD_LIMIT_ERROR); "first" keeps the first
    max_expansion in sorted term order (WILDCARD_LIMIT_FIRST)."""

    prefix: str
    max_expansion: int = 0  # 0 = DEFAULT_MAX_WILDCARD_EXPANSION
    limit: str = "error"


@dataclass(frozen=True)
class MatchAll(Query):
    """All documents, weight 0 (QueryTerm "")."""


@dataclass(frozen=True)
class MatchNothing(Query):
    """Empty result."""


@dataclass(frozen=True)
class PostingSourceQuery(Query):
    """External leaf: a DataFrame of (doc_id, score) — the analog of
    Xapian::PostingSource (include/xapian/postingsource.h)."""

    source: object  # DataFrame with doc_id, score
    name: str = "posting_source"
