"""Java-semantics compatibility helpers.

The reference ranker's candidate-generation order is Java ``HashSet``
iteration order (``ranker/Ranker.java:83-111`` iterates ``words_sw``, a
``HashSet<String>``), and quirk Q5 (first matching term's tf dropped,
SURVEY.md §7) makes document *scores* depend on that order.  Java string
hashing and HashMap bucket layout are fully deterministic, so we reproduce
the order exactly instead of waving it off as "nondeterministic".
"""

from __future__ import annotations

import re

#: ``Ranker.java:152/223``'s punctuation class — the query/title
#: normalization alphabet, canonical for every ENGINE path.  The pandas
#: oracle keeps its own independent copy (``oracle/pandas_oracle.py``) so a
#: bug here can't hide behind a shared constant; ``tests/test_ranker.py``
#: asserts the two patterns stay equal.
RE_QUERY_PUNCT = re.compile(r"[.,:;!?'\"\(\)-]")

#: ``String.trim()`` strips chars <= U+0020 from both ends — NOT Unicode
#: whitespace (NBSP survives), and MORE than Java regex ``\s`` (all control
#: chars go).
_JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))

#: Java regex ``\s`` is ASCII-only ``[ \t\n\x0B\f\r]`` (no
#: UNICODE_CHARACTER_CLASS); Python's ``\s`` and ``str.split()`` are
#: Unicode-aware, so the class is spelled out.
_RE_JAVA_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")


def java_query_tokens(s: str) -> list[str]:
    """``s.replaceAll(PUNCT, " ").trim().toLowerCase().split("\\s+")`` with
    Java semantics throughout (``Ranker.java:152-153`` for the query,
    ``:223`` for titles): trim strips chars <= U+0020; ``\\s`` is ASCII-only
    so Unicode whitespace (NBSP, ideographic space) stays INSIDE tokens; an
    empty post-trim string yields ``['']`` exactly as Java ``split`` does
    (never ``[]`` — Java's ``words.length < 1`` guard is unreachable).

    One deliberate normalization: final-form sigma folds to ς→σ.  Java's
    ``toLowerCase()`` applies a BreakIterator-conditioned final-sigma rule
    that neither Python's ``str.lower()`` (never contextual) nor Spark's
    ``lower()`` (strict UCD Final_Sigma) reproduces — three engines, three
    behaviors (``tests/test_java_differential.py``).  Folding BOTH sides of
    the query↔title overlap to σ makes all of this repo's implementations
    agree AND matches Java whenever the query and title carry the same
    Greek word in any sigma form (the common case, e.g. a typed 'καλός'
    title vs an uppercase 'ΚΑΛΟΣ' query word)."""
    s = RE_QUERY_PUNCT.sub(" ", s)
    s = s.strip(_JAVA_TRIM_CHARS).lower().replace("ς", "σ")
    return _RE_JAVA_WS_RUN.split(s)


def java_string_hash(s: str) -> int:
    """``String.hashCode()``: h = 31*h + c over UTF-16 code units, int32."""
    h = 0
    for ch in s:
        cp = ord(ch)
        if cp > 0xFFFF:  # surrogate pair, two UTF-16 units
            cp -= 0x10000
            for unit in (0xD800 + (cp >> 10), 0xDC00 + (cp & 0x3FF)):
                h = (31 * h + unit) & 0xFFFFFFFF
        else:
            h = (31 * h + cp) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


def _hashmap_spread(h: int) -> int:
    """``HashMap.hash()``: h ^ (h >>> 16) on the int32 hash."""
    uh = h & 0xFFFFFFFF
    return (uh ^ (uh >> 16)) & 0xFFFFFFFF


def _table_size_for(cap: int) -> int:
    n = max(cap, 1)
    size = 1
    while size < n:
        size <<= 1
    return max(size, 16) if cap >= 16 else size


def java_hashset_order(items: list[str], initial_from_collection: bool = False) -> list[str]:
    """Iteration order of a ``HashSet<String>`` built by inserting ``items``
    in order (duplicates ignored).

    ``initial_from_collection=True`` models ``new HashSet<>(coll)`` which
    presizes to ``tableSizeFor(max(16, c.size()/0.75 + 1))`` where
    ``c.size()`` is the RAW collection length INCLUDING duplicates
    (``HashMap(Collection)`` sizes before deduplication — a query with a
    repeated word gets a larger table than its distinct count suggests;
    pinned against a real JVM in ``tests/test_java_differential.py``);
    otherwise the default capacity 16 with doubling at load factor 0.75.
    Java 8+ resize preserves relative insertion order within each split
    bucket for linked-list bins, so iterating buckets of the *final* table
    in insertion order per bucket reproduces iteration exactly (bins under
    8 entries, i.e. every realistic query).
    """
    seen: list[str] = []
    seen_set: set[str] = set()
    for it in items:
        if it not in seen_set:
            seen.append(it)
            seen_set.add(it)
    n = len(seen)
    if initial_from_collection:
        # distinct n <= len(items) < cap*0.75, so no resize ever follows
        cap = _table_size_for(max(16, int(len(items) / 0.75) + 1))
    else:
        cap = 16
        # default-capacity table doubles when size exceeds cap * 0.75
        while n > cap * 0.75:
            cap <<= 1
    order = sorted(
        range(n),
        key=lambda i: (_hashmap_spread(java_string_hash(seen[i])) & (cap - 1), i),
    )
    return [seen[i] for i in order]


def java_hashmap_value_order(keys: list[str]) -> list[str]:
    """Values-iteration order of a ``HashMap<String, V>`` populated by
    inserting ``keys`` in order with default capacity.  Same bucket model as
    :func:`java_hashset_order`."""
    return java_hashset_order(keys, initial_from_collection=False)
