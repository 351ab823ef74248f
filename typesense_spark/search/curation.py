"""Q20: override/curation rules — stored query rules that force-include
docs at fixed positions and force-exclude others.

Reference semantics (``/root/reference/src/collection.cpp:427-493``
``populate_overrides``; ``override_t`` at ``include/collection.h:22-68``;
behavioral targets in ``test/collection_override_test.cpp``):

- a rule is {id, rule: {query, match: exact|contains},
  includes: [(doc_id, position)], excludes: [doc_id]};
- the search query is lowercased; a rule fires on string equality
  (exact) or substring containment (contains);
- explicit hidden hits and every firing rule's drop_hits are excluded,
  and exclusion takes precedence over inclusion;
- firing rules' add_hits pin docs at 1-based positions; explicitly
  passed pinned hits are applied last (they take precedence);
- rules are evaluated in id order (the reference stores them in a
  ``std::map`` keyed by id);
- a pinned position beyond the result count appends at the end
  (:func:`splice`, mirroring src/collection.cpp:897-922).

Position collisions (multiple rules pinning different docs to the same
slot): the reference keeps a LIST of ids per position and, in ungrouped
search, picks only the FIRST id per position — later claimants are not
curated and appear at their organic rank ("without any grouping
parameter, only the first ID in a position should be picked and other
IDs should appear in their original positions",
test/collection_override_test.cpp:472-489; ids_per_pos = max(1,
group_limit), src/collection.cpp:570-584). :func:`claimants` is that
rule, for resolve() and for raw pinned dicts alike. Under group_by, up
to group_limit claimants per position are kept (claim order) and form
a SYNTHETIC curated group spliced at that group position —
:func:`splice_groups`, mirroring the reference's merge of
override_result_kvs into result_group_kvs (src/collection.cpp:890-922;
expectations ported from test/collection_override_test.cpp
PinnedHitsGrouping).

Scale note: overrides are a driver-side dict (O(10²-10³) rules in
practice); resolution is pure string matching on the query — no Spark
job. The resolved (pinned, hidden) feed the anti-filter paths and the
splices below, which ``engine.search`` and the ``batch_*`` curation
entry points share; each splice runs driver-side over one collected
page per query.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass
from itertools import islice

MATCH_EXACT = "exact"
MATCH_CONTAINS = "contains"


@dataclass(frozen=True)
class OverrideRule:
    id: str
    query: str
    match: str = MATCH_EXACT  # 'exact' | 'contains'
    add_hits: tuple[tuple[int, int], ...] = ()  # (doc_id, 1-based position)
    drop_hits: tuple[int, ...] = ()  # doc_ids

    def fires(self, query_lower: str) -> bool:
        if self.match == MATCH_EXACT:
            return self.query == query_lower
        return self.query in query_lower


class OverrideStore:
    """Id-keyed rule store; upsert replaces, resolution iterates in id
    order like the reference's std::map."""

    def __init__(self, rules: list[OverrideRule] | tuple[OverrideRule, ...] = ()):
        self._rules: dict[str, OverrideRule] = {}
        for r in rules:
            self.add(r)

    def add(self, rule: OverrideRule) -> None:
        self._rules[rule.id] = rule

    def remove(self, rule_id: str) -> None:
        self._rules.pop(rule_id, None)

    def get(self, rule_id: str) -> OverrideRule | None:
        return self._rules.get(rule_id)

    def __len__(self) -> int:
        return len(self._rules)

    def resolve(
        self,
        query: str,
        pinned: dict[int, int] | None = None,
        hidden: tuple[int, ...] = (),
        ids_per_pos: int = 1,
    ) -> tuple[dict[int, int], tuple[int, ...]]:
        """Query + explicit pins/hides → effective ({doc_id: position},
        (hidden doc_ids...)) for engine.search, mirroring
        populate_overrides' precedence: hidden > rule drops > rule adds,
        explicit pins applied last.

        ``ids_per_pos``: claimants kept per position, in claim order —
        1 for ungrouped search (first claimant wins, later ones rank
        organically, collection_override_test.cpp:472-489), and
        ``max(1, group_limit)`` under group_by (the kept claimants form
        a synthetic curated GROUP, src/collection.cpp:570-584)."""
        q = query.lower()
        excluded: list[int] = list(hidden)
        placements: dict[int, int] = {}  # doc_id -> requested position
        for rule_id in sorted(self._rules):
            rule = self._rules[rule_id]
            if not rule.fires(q):
                continue
            excluded.extend(rule.drop_hits)
            for doc_id, pos in rule.add_hits:
                if doc_id not in placements:
                    placements[doc_id] = pos
        # exclusion takes precedence over inclusion ACROSS rules too: a
        # later-sorted rule's drop retracts an earlier rule's add (else
        # the doc would come back both pinned and hidden, and the splice
        # would force-include it)
        placements = {d: p for d, p in placements.items() if d not in excluded}
        for doc_id, pos in (pinned or {}).items():
            if doc_id not in excluded:
                placements[doc_id] = pos  # explicit pins win for a doc
        kept = {d for ds in claimants(placements, ids_per_pos).values() for d in ds}
        resolved = {d: p for d, p in placements.items() if d in kept}
        return resolved, tuple(dict.fromkeys(excluded))


def claimants(pinned: dict[int, int], ids_per_pos: int = 1) -> dict[int, list[int]]:
    """The per-position claimant rule: {doc_id: 1-based position} in
    claim order (dict insertion order) → {position: [doc_ids]} keeping
    the first ``max(1, ids_per_pos)`` claimants of each position."""
    by_pos: dict[int, list[int]] = {}
    for d, p in pinned.items():
        ds = by_pos.setdefault(p, [])
        if len(ds) < max(1, ids_per_pos):
            ds.append(d)
    return by_pos


def splice(organic: list, pinned: dict[int, object], n: int) -> list[tuple]:
    """The positional splice (src/collection.cpp:897-922) →
    [(position, item, curated)] for positions 1..n: a pinned item takes
    its position, the next organic item fills every other one, and once
    the organic items run out the remaining pins append in position
    order. ``organic`` (ranked) must already exclude the pinned items;
    an item is a doc id (:func:`splice_hits`) or a group's members
    (:func:`splice_groups`)."""
    pins, queue = dict(pinned), deque(organic)
    out: list[tuple] = []
    while len(out) < n and (queue or pins):
        pos = len(out) + 1
        if pos in pins:
            out.append((pos, pins.pop(pos), True))
        elif queue:
            out.append((pos, queue.popleft(), False))
        else:
            out.append((pos, pins.pop(min(pins)), True))
    return out


def splice_hits(organic: dict, pinned: dict[int, int], n: int) -> list[tuple]:
    """Ungrouped pin splice → [(rank, doc_id, payload, curated)] for
    ranks 1..n. ``organic``: {doc_id: payload} in rank order; only its
    first n + (pinned positions) entries are read — the page the engine
    collects — and a curated doc's payload comes from that page (None
    when it ranks below it). One curated doc per position: the first
    claimant wins and later claimants rank organically
    (test/collection_override_test.cpp:472-489)."""
    by_pos = {p: ds[0] for p, ds in claimants(pinned).items()}
    page = dict(islice(organic.items(), n + len(by_pos)))
    winners = set(by_pos.values())
    return [
        (pos, d, page.get(d), cur)
        for pos, d, cur in splice([d for d in page if d not in winners], by_pos, n)
    ]


def splice_groups(
    rows: list[tuple[int, int, int, int, int]],
    by_pos: dict[int, list[int]],
    scores: dict[int, int],
    n: int,
) -> list[tuple[int, int, int, int, bool]]:
    """Grouped pin splice → [(group_pos, group_rank, doc_id,
    score_milli, curated)] for group positions 1..n. ``rows``: the
    organic (g_score, g_doc, group_rank, doc_id, score_milli) rows of
    ``engine._rank_groups``, curated docs already excluded — groups
    rank by their top hit's (g_score, g_doc) DESC; ``by_pos``:
    :func:`claimants` under group_by, each position's claimants forming
    one synthetic curated group; ``scores``: the curated docs' scores
    (0 when absent)."""
    groups: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for g_score, g_doc, _rank, d, s in sorted(rows, key=lambda r: (-r[0], -r[1], r[2])):
        groups.setdefault((g_score, g_doc), []).append((int(d), int(s)))
    pins = {p: [(d, scores.get(d, 0)) for d in ds] for p, ds in by_pos.items()}
    return [
        (pos, rank, d, s, cur)
        for pos, members, cur in splice(list(groups.values()), pins, n)
        for rank, (d, s) in enumerate(members, start=1)
    ]
