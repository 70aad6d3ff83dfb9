"""Boilerplate mark-and-remove: the clean() analog.

Reference semantics preserved (fusus/page.py:718-1032 ``cleaning`` +
fusus/clean.py):

* a small **catalog of rules** (mark templates -> tag/class/id/role
  selectors) is matched against every candidate node (J3's broadcast
  nested-loop: rules are tiny, documents are many);
* overlapping hits are deduped by keeping the outermost match and not
  descending into removed subtrees (T16 ``cluster`` analog);
* a **connectedness guard** (T17 ``measure``/``connected``,
  clean.py:74-212) protects false positives: a node that *looks* like
  boilerplate but is interlocked with main content — here: long text
  with low link density — is kept;
* every decision is recorded (markData analog, page.py:927-983) as a
  removal row ``(rule_id, node_path, kept, score, guard_ratio)``.

The catalog is a module-level constant — compiled once per executor
Python worker (the reference loads its Kraken model once per process,
ocr.py:267-282; same pattern).

Cost contract: one strip runs in time linear in the tree (plus the
bytes of the node_path strings it emits). A node_path is built only for
a removal row, and a match nested in a guard-kept match takes its guard
stats from one memoized bottom-up pass instead of re-walking its
subtree per enclosing match. tests/test_cost.py pins the contract.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from fusus_spark.extraction.domparse import Node

# Tags never rendered: structural/meta/script payloads (T1 prune step).
PRUNE_TAGS = frozenset(
    "script style noscript template svg math head title meta link base "
    "iframe object embed param canvas audio video source track map area "
    "input select option optgroup textarea datalist".split()
)

# Semantic boilerplate containers (the reference's band-scoped marks:
# header/footer strokes -> applyHRules, fusus/layout.py:521-637).
SEMANTIC_BOILERPLATE = frozenset(["header", "footer", "nav", "aside"])

# ARIA landmark roles equivalent to the semantic containers.
BOILERPLATE_ROLES = frozenset(
    ["navigation", "banner", "contentinfo", "complementary", "search"]
)

# class/id pattern (the mark-template catalog analog). Matched against
# each whitespace-separated class token and against the id attribute.
_CLASSID_PATTERN = re.compile(
    r"(?:^|[-_])(nav|navbar|menu|footer|header|masthead|sidebar|side-bar|"
    r"advert|adsense|ads?|banner|breadcrumbs?|cookie|gdpr|consent|social|"
    r"share|sharing|comments?|promo|related|recommend|widget|skip|"
    r"copyright|legal|subscribe|newsletter|popup|modal|pagination|pager|"
    r"byline|meta|tags|toolbar)(?:$|[-_])",
    re.I,
)


@dataclass(frozen=True)
class GuardConfig:
    """Connectedness guard thresholds (clean.py:104-212 analog)."""

    min_chars: int = 150  # a match with >= this much text gets guarded
    max_link_density: float = 0.25  # ... and is KEPT if links are sparse


DEFAULT_GUARD = GuardConfig()


def _visible_stats(node: Node) -> tuple[int, int]:
    """(total_chars, linked_chars) of RENDERED text — pruned subtrees
    (script/style/head/...) are excluded so the guard measures what a
    reader would see, not payload bytes."""
    total = 0
    linked = 0
    stack: list[tuple[Node | str, bool]] = [(node, False)]
    while stack:
        n, in_a = stack.pop()
        if isinstance(n, str):
            k = len(n.strip())
            total += k
            if in_a:
                linked += k
        else:
            if n.tag in PRUNE_TAGS:
                continue
            child_in_a = in_a or n.tag == "a"
            for c in n.children:
                stack.append((c, child_in_a))
    return total, linked


def _subtree_stats(
    node: Node, memo: dict[Node, tuple[int, int]]
) -> tuple[int, int]:
    """``_visible_stats(node)`` for every element under ``node``, in one
    bottom-up pass that fills ``memo``; elements already in ``memo`` are
    not re-entered. Used for matches nested in a guard-kept match, so a
    nest of kept matches sums each element once instead of once per
    enclosing match. Entries are taken before the subtree is stripped.
    """
    got = memo.get(node)
    if got is not None:
        return got
    order = []  # elements in pre-order; summed in reverse (children first)
    todo = [node]
    while todo:
        n = todo.pop()
        order.append(n)
        for c in n.children:
            if not isinstance(c, str) and c.tag not in PRUNE_TAGS and c not in memo:
                todo.append(c)
    for n in reversed(order):
        total = 0
        linked = 0
        for c in n.children:
            if isinstance(c, str):
                total += len(c.strip())
            elif c.tag not in PRUNE_TAGS:
                t, k = memo[c]
                total += t
                linked += k
        # every rendered char under an <a> is linked
        memo[n] = (total, total if n.tag == "a" else linked)
    return memo[node]


def _match_rule(node: Node) -> tuple[str, float] | None:
    """Return (rule_id, score) for the first matching catalog rule."""
    if node.tag in SEMANTIC_BOILERPLATE:
        return f"tag:{node.tag}", 1.0
    if not node.attrs:
        return None
    role = node.attrs.get("role", "").strip().lower()
    if role in BOILERPLATE_ROLES:
        return f"role:{role}", 0.9
    cls = node.attrs.get("class", "")
    if cls:
        for token in cls.split():
            m = _CLASSID_PATTERN.search(f"-{token}-")
            if m:
                return f"class:{m.group(1).lower()}", 0.8
    nid = node.attrs.get("id", "")
    if nid:
        m = _CLASSID_PATTERN.search(f"-{nid}-")
        if m:
            return f"id:{m.group(1).lower()}", 0.7
    return None


def strip_boilerplate(
    root: Node,
    guard: GuardConfig = DEFAULT_GUARD,
) -> tuple[Node, list[tuple[str, str, bool, float, float]]]:
    """Prune + mark-and-remove boilerplate, in place; returns (root, removals).

    Removal rows: (rule_id, node_path, kept, score, guard_ratio) —
    ``kept=True`` means the guard vetoed the removal (false-positive
    protection, the connected-ink test analog).

    Deterministic: document-order walk, first-matching-rule, outermost
    match wins (no descent into removed subtrees).
    """
    removals: list[tuple[str, str, bool, float, float]] = []
    # Guard stats: a match outside any kept match walks its subtree once
    # (outermost matches are disjoint); inside a kept match they come
    # from one memoized bottom-up pass (_subtree_stats).
    stats: dict[Node, tuple[int, int]] = {}
    kept_at: list[int] = []  # frame index of each open guard-kept match

    # Iterative DFS with explicit frames (child cursor per node):
    # preserves the exact pre-order removal-row order of the recursive
    # formulation while surviving arbitrarily deep real-world nesting.
    # Frame: [node, ordinal among same-tag siblings, child_index,
    # kept_children, counters]; kept_children stays None (children kept
    # as they are) until a child is dropped. A node_path is built only
    # for a removal row: ``segs`` holds the "/tag[k]" step of the open
    # frames, filled on demand, so a deep tree without matches builds
    # no paths.
    frames: list[list] = [[root, 0, 0, None, {}]]
    segs = [""]  # path steps of frames[:len(segs)]; the root's is ""
    while frames:
        frame = frames[-1]
        node, _, i, kept_children, counters = frame
        children = node.children
        descended = False
        while i < len(children):
            child = children[i]
            i += 1
            if isinstance(child, str):
                if kept_children is not None:
                    kept_children.append(child)
                continue
            tag = child.tag
            k = counters[tag] = counters.get(tag, 0) + 1
            if tag in PRUNE_TAGS:
                # silent prune: never content (script/style/head)
                if kept_children is None:
                    kept_children = frame[3] = children[: i - 1]
                continue
            rule = _match_rule(child)
            if rule is not None:
                rule_id, score = rule
                if kept_at:
                    total, linked = _subtree_stats(child, stats)
                else:
                    total, linked = _visible_stats(child)
                # whitespace-insensitive char count of rendered text
                density = (linked / total) if total else 0.0
                keep = total >= guard.min_chars and density <= guard.max_link_density
                for f in frames[len(segs):]:
                    segs.append(f"/{f[0].tag}[{f[1]}]")
                cpath = f"{''.join(segs)}/{tag}[{k}]"
                removals.append((rule_id, cpath, keep, score, round(density, 6)))
                if not keep:
                    # removed: do not descend (cluster-dedupe analog)
                    if kept_children is None:
                        kept_children = frame[3] = children[: i - 1]
                    continue
                kept_at.append(len(frames))
            if kept_children is not None:
                kept_children.append(child)
            frame[2] = i  # suspend this frame, descend into the child
            frames.append([child, k, 0, None, {}])
            descended = True
            break
        if descended:
            continue
        if kept_children is not None:
            node.children = kept_children
        frames.pop()
        if len(segs) > len(frames):
            segs.pop()
        if kept_at and kept_at[-1] == len(frames):
            kept_at.pop()
    return root, removals
