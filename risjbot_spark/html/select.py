"""Mini-XPath engine over :mod:`risjbot_spark.html.dom` trees.

Supports the selector subset that news-article metadata batteries actually
use (the reference's whole xpath surface, see
/root/reference/RISJbot/loaders.py:154-327 and the per-site spiders):

    /html/@lang
    head/meta[@name="author" or @property="author"]/@content
    //*[@itemprop="headline" or @property="headline"]//text()
    //script[@type="application/ld+json"]/text()
    //div[contains(@class, "submeta")]
    //article//div[contains(@class, "x")]/*[not(contains(@class, "meta"))]//text()
    //h1[contains(., "Something has gone wrong")]

Axes: child (``/``) and descendant-or-self (``//``). Node tests: name, ``*``,
``text()``, ``@attr``. Predicates: ``@a="v"``, ``contains(@a, "v")``,
``contains(., "v")``, ``not(...)``, and ``or``/``and`` chains of those.
"""

from __future__ import annotations

import re
from functools import lru_cache

from .dom import Node

__all__ = ["xpath", "remove_nodes", "remove_nodes_batch", "string_value"]


# --------------------------------------------------------------------------
# Parsing
# --------------------------------------------------------------------------

_STEP_RE = re.compile(
    r"""
    (?P<axis>//|/|)                 # leading axis for this step
    (?P<test>\*|text\(\)|[A-Za-z][\w:.-]*|@[\w:.-]+)
    """,
    re.VERBOSE,
)


class _Step:
    __slots__ = ("axis", "test", "preds")

    def __init__(self, axis: str, test: str, preds: list):
        self.axis = axis  # 'child' | 'descendant'
        self.test = test  # tag name | '*' | 'text()' | '@attr'
        self.preds = preds


def _parse_predicate(src: str, pos: int):
    """Parse one boolean expression; returns (ast, new_pos).

    XPath precedence: ``and`` binds tighter than ``or`` — a flat
    left-associative chain evaluated ``a or b and c`` as
    ``(a or b) and c`` and silently matched nothing."""
    node, pos = _parse_and(src, pos)
    while True:
        m = re.match(r"\s+or\s+", src[pos:])
        if not m:
            return node, pos
        pos += m.end()
        rhs, pos = _parse_and(src, pos)
        node = ("or", node, rhs)


def _parse_and(src: str, pos: int):
    node, pos = _parse_term(src, pos)
    while True:
        m = re.match(r"\s+and\s+", src[pos:])
        if not m:
            return node, pos
        pos += m.end()
        rhs, pos = _parse_term(src, pos)
        node = ("and", node, rhs)


def _parse_term(src: str, pos: int):
    s = src[pos:]
    m = re.match(r"\s*not\(", s)
    if m:
        inner, pos2 = _parse_predicate(src, pos + m.end())
        if src[pos2] != ")":
            raise ValueError(f"bad not() in predicate: {src!r}")
        return ("not", inner), pos2 + 1
    m = re.match(r"\s*contains\(\s*(@[\w:.-]+|\.)\s*,\s*(\"([^\"]*)\"|'([^']*)')\s*\)", s)
    if m:
        target = m.group(1)
        value = m.group(3) if m.group(3) is not None else m.group(4)
        ast = ("contains_text", value) if target == "." else ("contains_attr", target[1:], value)
        return ast, pos + m.end()
    m = re.match(r"\s*@([\w:.-]+)\s*=\s*(\"([^\"]*)\"|'([^']*)'|([\w:.-]+))", s)
    if m:
        value = next(v for v in (m.group(3), m.group(4), m.group(5)) if v is not None)
        return ("attr_eq", m.group(1), value), pos + m.end()
    m = re.match(r"\s*@([\w:.-]+)", s)
    if m:
        return ("attr_exists", m.group(1)), pos + m.end()
    raise ValueError(f"unsupported predicate at {src[pos:]!r}")


@lru_cache(maxsize=1024)
def _compile(expr: str) -> tuple[bool, tuple[_Step, ...]]:
    """Compile an xpath string → (is_absolute, steps)."""
    expr = expr.strip()
    pos = 0
    is_abs = expr.startswith("/") and not expr.startswith("//")
    steps: list[_Step] = []
    first = True
    while pos < len(expr):
        m = _STEP_RE.match(expr, pos)
        if not m:
            raise ValueError(f"unsupported xpath at {expr[pos:]!r} in {expr!r}")
        axis_tok = m.group("axis")
        if axis_tok == "//":
            axis = "descendant"
        elif axis_tok == "/":
            axis = "child"
        else:
            if not first:
                raise ValueError(f"missing axis in {expr!r}")
            axis = "child"
        pos = m.end()
        preds = []
        while pos < len(expr) and expr[pos] == "[":
            ast, pos = _parse_predicate(expr, pos + 1)
            if pos >= len(expr) or expr[pos] != "]":
                raise ValueError(f"unterminated predicate in {expr!r}")
            pos += 1
            preds.append(ast)
        steps.append(_Step(axis, m.group("test"), preds))
        first = False
    return is_abs, tuple(steps)


# --------------------------------------------------------------------------
# Evaluation
# --------------------------------------------------------------------------

def string_value(node: Node) -> str:
    """XPath string-value of an element: concatenated descendant text."""
    return node.text_content()


def _pred_holds(node: Node, ast) -> bool:
    kind = ast[0]
    if kind == "attr_eq":
        return node.attrib.get(ast[1]) == ast[2]
    if kind == "attr_exists":
        return ast[1] in node.attrib
    if kind == "contains_attr":
        v = node.attrib.get(ast[1])
        return v is not None and ast[2] in v
    if kind == "contains_text":
        return ast[1] in string_value(node)
    if kind == "not":
        return not _pred_holds(node, ast[1])
    if kind == "or":
        return _pred_holds(node, ast[1]) or _pred_holds(node, ast[2])
    if kind == "and":
        return _pred_holds(node, ast[1]) and _pred_holds(node, ast[2])
    raise ValueError(f"bad predicate ast {ast!r}")


def _match_test(node: Node, test: str) -> bool:
    if test == "*":
        return not node.tag.startswith("#")
    return node.tag == test


def _eval_steps(contexts: list[Node], steps: tuple[_Step, ...]):
    """Evaluate element steps; the final step may be text()/@attr."""
    current = contexts
    out_values: list[str] | None = None
    for idx, step in enumerate(steps):
        is_last = idx == len(steps) - 1
        if step.test == "text()":
            assert is_last, "text() must be the final step"
            # node-SET semantics: each text node once, even when one
            # matched context is nested inside another (lxml returns
            # 'Hello' once for //div[...]//text() on story-body markup
            # where the container matches its own descendant; a naive
            # per-context itertext() doubled it). Contexts arrive in
            # document order, so first-wins dedup preserves order.
            out_values = []
            seen_txt: set = set()
            for n in current:
                if step.axis == "descendant":
                    for key, t in n.itertext_with_ids():
                        if key not in seen_txt:
                            seen_txt.add(key)
                            out_values.append(t)
                else:
                    # child axis: collect the wanted segments, then emit
                    # them via ONE document-order walk from the root —
                    # per-context emission returned a nested context's
                    # text AFTER its own tail (lxml is document-ordered)
                    if n.text:
                        seen_txt.add((id(n), "text"))
                    for c in n.children:
                        if c.tail:
                            seen_txt.add((id(c), "tail"))
            if step.axis != "descendant" and seen_txt:
                root = current[0]
                while root.parent is not None:
                    root = root.parent

                def emit(node: Node) -> None:
                    if node.text and (id(node), "text") in seen_txt:
                        out_values.append(node.text)
                    for c in node.children:
                        emit(c)
                        if c.tail and (id(c), "tail") in seen_txt:
                            out_values.append(c.tail)

                emit(root)
            return out_values
        if step.test.startswith("@"):
            assert is_last, "@attr must be the final step"
            if step.axis == "descendant":
                # `x//@a` = descendant-or-self::node()/@a — the attribute
                # axis applies to every node in each context's subtree,
                # the context node included (a child-axis-only read
                # silently returned nothing for //@attr)
                seen_ids = set()
                expanded = []
                for n in current:
                    for d in n.iter():
                        if id(d) not in seen_ids:
                            seen_ids.add(id(d))
                            expanded.append(d)
                current = expanded
            return _eval_attr(current, steps, idx)
        nxt: list[Node] = []
        seen_ids = set()
        for n in current:
            if step.axis == "descendant":
                pool = (d for c in n.children for d in c.iter())
            else:
                pool = iter(n.children)
            for cand in pool:
                if not _match_test(cand, step.test):
                    continue
                if any(not _pred_holds(cand, p) for p in step.preds):
                    continue
                if id(cand) not in seen_ids:
                    seen_ids.add(id(cand))
                    nxt.append(cand)
        current = nxt
        if not current:
            break
    return current


def _eval_attr(current: list[Node], steps, idx):
    name = steps[idx].test[1:]
    out = []
    for n in current:
        v = n.attrib.get(name)
        if v is not None:
            out.append(v)
    return out


# attributes worth indexing: the metadata batteries select on these
_INDEXED_ATTRS = ("itemprop", "property", "name")


def _doc_index(root: Node) -> tuple[dict, dict, dict]:
    """(tag→nodes, (attr,value)→nodes, id(node)→doc-order seq), built once
    per document and reused by every first-step descendant scan — the
    metadata batteries issue ~30 tree scans per page; this makes each one
    a dict lookup."""
    idx = root._tag_index
    if idx is None:
        tag_idx: dict = {"*": []}
        attr_idx: dict = {}
        ord_map: dict = {}
        seq = 0

        def walk(n: Node):
            nonlocal seq
            for c in n.children:
                if not c.tag.startswith("#"):
                    ord_map[id(c)] = seq
                    seq += 1
                    tag_idx["*"].append(c)
                    tag_idx.setdefault(c.tag, []).append(c)
                    for a in _INDEXED_ATTRS:
                        v = c.attrib.get(a)
                        if v is not None:
                            attr_idx.setdefault((a, v), []).append(c)
                walk(c)

        walk(root)
        idx = (tag_idx, attr_idx, ord_map)
        root._tag_index = idx
    return idx


def _attr_eq_leaves(ast) -> list | None:
    """Flatten an or-chain of attr_eq predicates on indexed attributes;
    None when the predicate has any other shape."""
    if ast[0] == "attr_eq":
        return [ast] if ast[1] in _INDEXED_ATTRS else None
    if ast[0] == "or":
        left = _attr_eq_leaves(ast[1])
        right = _attr_eq_leaves(ast[2])
        if left is not None and right is not None:
            return left + right
    return None


def xpath(root: Node, expr: str):
    """Evaluate ``expr`` with ``root`` as the context element.

    Absolute paths (``/html/...``) are resolved against the document
    element; ``//...`` searches the whole subtree under root (the usual
    case, since callers hold the <html> element). Returns a list of
    :class:`Node` or ``str`` depending on the final step.
    """
    is_abs, steps = _compile(expr)
    if is_abs and steps and steps[0].test != "text()" and not steps[0].test.startswith("@"):
        # '/html/...' — the first step names the document element itself.
        first = steps[0]
        if _match_test(root, first.test) and all(_pred_holds(root, p) for p in first.preds):
            if len(steps) == 1:
                return [root]
            return _eval_steps([root], steps[1:])
        return []
    # fast path: leading '//tag'/'//*' from the root uses the doc index
    first = steps[0] if steps else None
    if (first is not None and first.axis == "descendant"
            and not first.test.startswith("@") and first.test != "text()"):
        tag_idx, attr_idx, ord_map = _doc_index(root)
        ctx = None
        # faster still: a single or-chain of attr_eq preds on indexed
        # attributes ('//*[@itemprop="x" or @property="x"]') resolves via
        # the attribute index — no pool scan at all
        if len(first.preds) == 1:
            leaves = _attr_eq_leaves(first.preds[0])
            if leaves is not None:
                seen_ids = set()
                cand = []
                for _, attr, val in leaves:
                    for n in attr_idx.get((attr, val), ()):
                        if id(n) not in seen_ids and _match_test(n, first.test):
                            seen_ids.add(id(n))
                            cand.append(n)
                cand.sort(key=lambda n: ord_map[id(n)])
                ctx = cand
        if ctx is None:
            pool = tag_idx.get(first.test, ())
            ctx = [n for n in pool
                   if all(_pred_holds(n, p) for p in first.preds)]
        if len(steps) == 1:
            return ctx
        return _eval_steps(ctx, steps[1:])
    return _eval_steps([root], steps)


def remove_nodes(root: Node, expr: str) -> int:
    """Delete all nodes matching ``expr`` from the tree (tail dropped,
    matching lxml ``getparent().remove(node)`` — the reference's pruning
    primitive, /root/reference/RISJbot/utils.py:9-41). Returns count."""
    victims = [n for n in xpath(root, expr) if isinstance(n, Node)]
    removed = 0
    for v in victims:
        if v.parent is not None:
            v.parent.remove(v)
            removed += 1
    if removed:
        root._tag_index = None  # invalidate the document index
    return removed


# a predicate that reads text content ('contains(., ...)' / text()) can
# change truth value when OTHER nodes are removed (an ancestor's '.'
# shrinks); attribute/tag-only expressions cannot — their match sets
# commute with any removal
_READS_CONTENT_RE = re.compile(r"contains\(\s*\.\s*,|text\(\)")


def remove_nodes_batch(root: Node, exprs) -> int:
    """Sequential-EQUIVALENT batched pruning: consecutive expressions
    whose predicates never read text content are evaluated against one
    shared document index and removed together (one invalidation),
    instead of rebuilding the index after every expression — the
    extraction profile runs 6-10 prunes per page and the per-expression
    rebuild was ~13% of extraction CPU. A content-reading expression
    flushes the batch first, preserving exact sequential semantics
    (matching a node inside an already-removed subtree is a no-op, so
    batched removal of content-free expressions is order-independent)."""
    removed = 0
    batch: list[str] = []

    def _attached(v: Node) -> bool:
        # ancestor chain must reach `root` itself — `root` may have a
        # parent (document node), so walking to the very top overshoots
        while v is not None:
            if v is root:
                return True
            v = v.parent
        return False

    def flush() -> None:
        nonlocal removed
        if not batch:
            return
        victims = []
        for e in batch:
            victims.extend(n for n in xpath(root, e) if isinstance(n, Node))
        cnt = 0
        for v in victims:
            # count only victims still attached to THIS tree: a node
            # inside a subtree an earlier batched expression already
            # detached would inflate the count vs sequential semantics
            # (sequential never re-matches it)
            if v.parent is not None and _attached(v):
                v.parent.remove(v)
                cnt += 1
        if cnt:
            root._tag_index = None
        removed += cnt
        batch.clear()

    for e in exprs:
        if _READS_CONTENT_RE.search(e):
            flush()
            removed += remove_nodes(root, e)
        else:
            batch.append(e)
    flush()
    return removed
