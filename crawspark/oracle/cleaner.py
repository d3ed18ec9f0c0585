"""Boilerplate cleaning — mutates the DOM in place, deterministically.

Reference semantics replicated (reconstructed loci, SURVEY.md §2.3):
- remove script/style/etc and comments      [R: goose/cleaners.py::DocumentCleaner.clean]
- drop nodes whose id/class/name matches the bad-attribute regex
  unless rescued by a good-attribute match  [R: goose/cleaners.py::clean_bad_tags]
- unwrap inline emphasis/span tags          [R: goose/cleaners.py::clean_em_tags, drop-caps]
- convert divs without block children to p  [R: goose/cleaners.py::div_to_para]

Order matters and is fixed: remove-tags → bad-attr drop → unwrap → div→p.
"""

from __future__ import annotations

from crawspark.oracle.dom import Document, Node
from crawspark.rules import (
    BLOCK_TAGS,
    RE_BAD_ATTR,
    RE_GOOD_ATTR,
    REMOVE_TAGS,
    UNWRAP_TAGS,
)


def clean_document(root: Document) -> Document:
    _remove_bad_nodes(root)
    root.by_tag = None  # the tree stops matching the parser's index
    _unwrap_inline(root)
    _divs_to_paragraphs(root)
    return root


def _remove_bad_nodes(root: Document) -> None:
    # Both drop rules (tag blacklist, then bad-id/class regex with article
    # rescue) depend only on a node's own tag and attributes, so the
    # dropped set, and the tree left after detaching it, do not depend on
    # the order of removal: read the nodes from the parser's tag index.
    for tag, nodes in root.index().items():
        if tag in REMOVE_TAGS:
            for node in nodes:
                node.parent.remove_child(node)
        elif tag not in ("html", "body", "#root"):
            for node in nodes:
                ic = node.id_class()
                if ic and RE_BAD_ATTR.search(ic) and not RE_GOOD_ATTR.search(ic):
                    node.parent.remove_child(node)


def _unwrap_inline(root: Node) -> None:
    # Bottom-up so nested inline tags unwrap fully; list() snapshots order.
    for node in reversed(list(root.iter())):
        if node.tag in UNWRAP_TAGS and node.parent is not None:
            # Keep wrappers that carry an image (reference keeps em-with-img).
            if node.find_first("img") is None:
                node.unwrap()


def _divs_to_paragraphs(root: Node) -> None:
    for node in root.iter():
        if node.tag == "div" and not _has_block_child(node):
            node.tag = "p"


def _has_block_child(node: Node) -> bool:
    for c in node.children:
        if isinstance(c, Node) and (c.tag in BLOCK_TAGS or _has_block_child(c)):
            return True
    return False
