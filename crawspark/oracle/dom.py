"""From-scratch tolerant HTML tokenizer + DOM on stdlib ``html.parser``.

Replaces the reference's lxml/libxml2 parse [R: goose/parsers.py::
Parser.fromstring] with a pure-Python tree builder (no lxml in this
environment — SURVEY.md §0.2). Recovery behavior is intentionally simple
and deterministic: unmatched end tags are ignored; block-level start tags
implicitly close an open ``<p>``; void elements never take children.

This runs once per document INSIDE a vectorized Arrow batch — it is the
per-row work the pandas/Arrow UDF amortizes (SURVEY.md §3.2).
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

# Start of any of these closes an open <p> (browsers' implied end tag).
_P_CLOSERS = frozenset(
    {"p", "div", "table", "ul", "ol", "dl", "blockquote", "pre", "article",
     "section", "aside", "nav", "header", "footer", "h1", "h2", "h3", "h4",
     "h5", "h6", "figure", "form"}
)


class Node:
    """One element. ``children`` holds Node and str (text chunk) items."""

    __slots__ = ("tag", "attrs", "children", "parent", "score", "gravity_nodes")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None,
                 parent: "Node | None" = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node | str] = []
        self.parent = parent
        self.score = 0.0
        self.gravity_nodes = 0

    # -- tree ops ----------------------------------------------------------

    def remove_child(self, child: "Node") -> None:
        self.children = [c for c in self.children if c is not child]

    def unwrap(self) -> None:
        """Replace this node by its children in the parent (inline unwrap)."""
        if self.parent is None:
            return
        idx = self.parent.children.index(self)
        for c in self.children:
            if isinstance(c, Node):
                c.parent = self.parent
        self.parent.children[idx:idx + 1] = self.children

    # -- queries -----------------------------------------------------------

    def iter(self):
        """Yield self + all descendant Nodes in document order (explicit
        stack; the reversed-index loop beats a genexpr+extend per visit —
        measured +31% end-to-end). It does not prune: a node's children
        are pushed when the walk resumes after yielding it, so detaching
        the yielded node still visits its subtree."""
        stack = [self]
        pop = stack.pop
        push = stack.append
        node_t = Node
        while stack:
            n = pop()
            yield n
            children = n.children
            for i in range(len(children) - 1, -1, -1):
                c = children[i]
                if type(c) is node_t:
                    push(c)

    def find_all(self, *tags: str) -> list["Node"]:
        # Same document-order walk as iter(), inlined: the per-node
        # generator resume cost dominates find_all's profile (6% of
        # whole-document extraction) and a plain loop halves it.
        want1 = tags[0] if len(tags) == 1 else None
        want = None if want1 is not None else set(tags)
        out: list[Node] = []
        stack = [self]
        pop = stack.pop
        push = stack.append
        node_t = Node
        while stack:
            n = pop()
            if (n.tag == want1) if want1 is not None else (n.tag in want):
                out.append(n)
            children = n.children
            for i in range(len(children) - 1, -1, -1):
                c = children[i]
                if type(c) is node_t:
                    push(c)
        return out

    def find_first(self, *tags: str) -> "Node | None":
        want = set(tags)
        stack = [self]
        pop = stack.pop
        push = stack.append
        node_t = Node
        while stack:
            n = pop()
            if n.tag in want:
                return n
            children = n.children
            for i in range(len(children) - 1, -1, -1):
                c = children[i]
                if type(c) is node_t:
                    push(c)
        return None

    def text(self) -> str:
        """Concatenated descendant text, whitespace-normalized.

        Single flat collect + one normalize pass — equivalent to joining
        per-level (whitespace collapses either way) without the
        intermediate per-node strings."""
        parts: list[str] = []
        self._collect_text(parts)
        return " ".join(" ".join(parts).split())

    def _collect_text(self, parts: list[str]) -> None:
        for c in self.children:
            if isinstance(c, str):
                parts.append(c)
            else:
                c._collect_text(parts)

    def own_text(self) -> str:
        return " ".join(
            " ".join(c for c in self.children if isinstance(c, str)).split()
        )

    def attr(self, name: str) -> str:
        return self.attrs.get(name, "")

    def id_class(self) -> str:
        attrs = self.attrs
        if not attrs:  # most nodes are attribute-less — skip the concat
            return ""
        get = attrs.get
        return (get("id", "") + " " + get("class", "") + " "
                + get("name", "")).strip()

    def prev_siblings(self) -> list["Node"]:
        """Element siblings BEFORE this node, nearest first."""
        if self.parent is None:
            return []
        out: list[Node] = []
        for c in self.parent.children:
            if c is self:
                break
            if isinstance(c, Node):
                out.append(c)
        out.reverse()
        return out

    def __repr__(self) -> str:  # debug aid only
        return f"<Node {self.tag} id={self.attr('id')!r} class={self.attr('class')!r}>"


class Document(Node):
    """Root of a parsed tree, with a per-tag index of its elements.

    ``by_tag`` maps each tag to its elements in document order: the parser
    records every element as it creates it, and creation order is document
    order, so ``by_tag[t]`` equals ``find_all(t)`` on the tree as built.
    Pre-clean readers (meta, title, date/tag extraction, the cleaner's
    drop pass) read it instead of walking the tree. ``clean_document``
    mutates the tree and drops the index, after which ``index`` raises
    rather than return removed nodes."""

    __slots__ = ("by_tag",)

    def __init__(self) -> None:
        super().__init__("#root")
        self.by_tag: dict[str, list[Node]] | None = {"#root": [self]}

    def index(self) -> dict[str, list[Node]]:
        """``by_tag``; raises once ``clean_document`` has dropped it."""
        if self.by_tag is None:
            raise RuntimeError(
                "tag index dropped by clean_document: read it before cleaning")
        return self.by_tag

    def elements(self, tag: str) -> list[Node]:
        """``find_all(tag)`` of the tree as the parser built it."""
        return self.index().get(tag, [])

    def first(self, tag: str) -> Node | None:
        """``find_first(tag)`` of the tree as the parser built it."""
        found = self.elements(tag)
        return found[0] if found else None


def attr_dict(attrs) -> dict[str, str]:
    """html.parser's ``(name, value)`` list as a dict: the first of a
    repeated name wins, a bare attribute reads as ''."""
    attrd: dict[str, str] = {}
    for k, v in attrs:
        if k not in attrd:
            attrd[k] = v if v is not None else ""
    return attrd


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Document()
        self.stack: list[Node] = [self.root]
        self.by_tag = self.root.by_tag

    def add_element(self, tag: str, attrs: dict[str, str],
                    selfclose: bool = False) -> None:
        """Add element ``tag`` under the current node and record it in the
        tag index; enter it unless it is void or self-closed."""
        cur = self.stack[-1]
        if not selfclose and cur.tag == "p" and tag in _P_CLOSERS:
            self.stack.pop()
            cur = self.stack[-1]
        node = Node(tag, attrs, cur)
        cur.children.append(node)
        same_tag = self.by_tag.get(tag)
        if same_tag is None:
            self.by_tag[tag] = [node]
        else:
            same_tag.append(node)
        if not selfclose and tag not in VOID_TAGS:
            self.stack.append(node)

    # html.parser lowercases tag names already.
    def handle_starttag(self, tag: str, attrs) -> None:
        self.add_element(tag, attr_dict(attrs))

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.add_element(tag, attr_dict(attrs), selfclose=True)

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_TAGS:
            return
        # Pop to the nearest matching open tag; ignore if none.
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            # Merge adjacent text chunks: chunk boundaries are a parser
            # artifact (html.parser splits at '<' and charrefs), not
            # document structure — and Node.text() joins chunks with a
            # space, so unmerged chunks would leak phantom whitespace.
            ch = self.stack[-1].children
            if ch and isinstance(ch[-1], str):
                ch[-1] += data
            else:
                ch.append(data)

    # Comments, PIs, declarations are dropped at parse time — observably the
    # same as the reference cleaner's remove-comments step
    # [R: goose/cleaners.py::DocumentCleaner remove comments].
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


def parse_html(payload: str) -> Document:
    """Parse an HTML payload into a DOM tree; never raises on bad markup."""
    builder = _TreeBuilder()
    try:
        builder.feed(payload)
        builder.close()
    except Exception:
        # Tolerant by contract: salvage whatever tree was built.
        pass
    return builder.root
