"""Minimal HTML DOM on top of the stdlib ``html.parser``.

The reference parses pages with BeautifulSoup; that library is not a
given in a Spark executor image, and the subset of behavior the
extractors need (find by tag/class/id, text flattening, parent walk,
node removal) is small — so we implement exactly that subset with no
third-party dependency. Semantics intentionally mirror bs4 where the
reference relies on them:

- ``class_`` with spaces matches the *exact* class attribute string
  (bs4's behavior for multi-class queries, relied on at
  ``crawler/src/procedure_code.py:67``);
- ``get_text(separator, strip)`` joins stripped text descendants;
- ``find(..., string=regex)`` matches when the node's flattened text
  matches the regex (``procedure_code.py:62``).

Parsing happens inside Arrow-batched ``mapInPandas`` workers, so this
stays off the driver and scales with partitions.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator, Pattern

_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}


class HtmlNode:
    """One element (or the document root) of the parsed tree."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "HtmlNode | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []  # HtmlNode | str
        self.parent = parent

    # -- attribute helpers -------------------------------------------------
    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    @property
    def classes(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    # -- text --------------------------------------------------------------
    def itertext(self) -> Iterator[str]:
        for child in self.children:
            if isinstance(child, str):
                yield child
            else:
                yield from child.itertext()

    @property
    def stripped_strings(self) -> Iterator[str]:
        for chunk in self.itertext():
            chunk = chunk.strip()
            if chunk:
                yield chunk

    def get_text(self, separator: str = "", strip: bool = False) -> str:
        if strip:
            return separator.join(self.stripped_strings)
        return separator.join(self.itertext())

    # -- traversal ---------------------------------------------------------
    def iter_elements(self) -> Iterator["HtmlNode"]:
        """All element descendants in document order (excluding self)."""
        for child in self.children:
            if isinstance(child, HtmlNode):
                yield child
                yield from child.iter_elements()

    def _matches(
        self,
        tag: str | None,
        class_: str | None,
        id: str | None,
        string: Pattern[str] | str | None,
    ) -> bool:
        if tag is not None and self.tag != tag:
            return False
        if class_ is not None:
            if " " in class_:
                # multi-class query: exact attribute-string match (bs4 parity)
                if (self.attrs.get("class") or "") != class_:
                    return False
            elif class_ not in self.classes:
                return False
        if id is not None and self.attrs.get("id") != id:
            return False
        if string is not None:
            text = self.get_text(strip=True)
            if isinstance(string, str):
                if text != string:
                    return False
            elif not string.search(text):
                return False
        return True

    def find_all(
        self,
        tag: str | None = None,
        class_: str | None = None,
    ) -> list["HtmlNode"]:
        return [
            node
            for node in self.iter_elements()
            if node._matches(tag, class_, None, None)
        ]

    def find(
        self,
        tag: str | None = None,
        class_: str | None = None,
        id: str | None = None,
        string: Pattern[str] | str | None = None,
    ) -> "HtmlNode | None":
        for node in self.iter_elements():
            if node._matches(tag, class_, id, string):
                return node
        return None

    def find_parent(self) -> "HtmlNode | None":
        """The nearest enclosing ``div.box-detail.box-blue``, the
        reference's symbol-box container."""
        node = self.parent
        while node is not None:
            if node.tag != "[document]" and node._matches(
                "div", "box-detail box-blue", None, None
            ):
                return node
            node = node.parent
        return None

    # -- mutation ----------------------------------------------------------
    def decompose(self) -> None:
        """Detach this node from the tree (bs4 ``decompose`` parity)."""
        if self.parent is not None:
            self.parent.children = [
                c for c in self.parent.children if c is not self
            ]
            self.parent = None

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.tag} {self.attrs}>"


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = HtmlNode("[document]", {}, None)
        self._stack = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        node = HtmlNode(tag, {k: (v or "") for k, v in attrs}, self._stack[-1])
        self._stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = HtmlNode(tag, {k: (v or "") for k, v in attrs}, self._stack[-1])
        self._stack[-1].children.append(node)

    def handle_endtag(self, tag: str) -> None:
        # close the nearest matching open tag; tolerate stray closers
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break

    def handle_data(self, data: str) -> None:
        if data:
            self._stack[-1].children.append(data)


def parse_html(text: str) -> HtmlNode:
    """Parse an HTML document into an :class:`HtmlNode` tree."""
    builder = _TreeBuilder()
    builder.feed(text or "")
    builder.close()
    return builder.root


def compile_word(word: str) -> Pattern[str]:
    """Whole-word regex, the reference's span-match idiom
    (``procedure_code.py:62``)."""
    return re.compile(rf"\b{re.escape(word)}\b", re.IGNORECASE)
