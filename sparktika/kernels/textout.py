"""Text serialization with block separators and write limit.

Re-specifies the reference's WriteOutContentHandler semantics
(ref: main/TikaBodyContentHandler.java):

- characters()/ignorableWhitespace() appended verbatim (:100-125)
- startElement: SPAN -> " " and DIV -> "\\n" ONLY if writeCount > 0
  (leading-separator suppression, :143-160)
- endElement: SPAN -> " ", DIV -> "\\n" unconditionally (:162-175)
- separators do NOT count toward the write limit (writer.write bypasses
  writeCount in the reference)
- write limit: output is capped at exactly `limit` characters of content;
  hitting it raises WriteLimitReached and the parse stops (:100-115).
  (The reference's observed cap+1 off-by-one on the socket path is a
  commons-io artifact, deliberately not reproduced; see SURVEY.md O5.)
"""

from __future__ import annotations

from .errors import WriteLimitReached


class TextWriter:
    __slots__ = ("_parts", "count", "limit", "limit_reached")

    def __init__(self, write_limit: int = -1):
        self._parts: list[str] = []
        self.count = 0  # chars written via characters(); separators excluded
        self.limit = write_limit
        self.limit_reached = False

    def characters(self, s: str) -> None:
        if not s:
            return
        n = len(s)
        if self.limit == -1 or self.count + n <= self.limit:
            self._parts.append(s)
            self.count += n
        else:
            self._parts.append(s[: self.limit - self.count])
            self.count = self.limit
            self.limit_reached = True
            raise WriteLimitReached()

    def start_element(self, name: str) -> None:
        # leading-separator suppression: only after some content was written
        if self.count > 0:
            if name == "span":
                self._parts.append(" ")
            elif name == "div":
                self._parts.append("\n")

    def end_element(self, name: str) -> None:
        # trailing separators are unconditional in the reference
        if name == "span":
            self._parts.append(" ")
        elif name == "div":
            self._parts.append("\n")

    def getvalue(self) -> str:
        return "".join(self._parts)


def embedded_block(label: str, text: str) -> str:
    """One embedded document's text as `[Embedded: label]` and the text,
    newline-terminated."""
    return f"[Embedded: {label}]\n" + (text if text.endswith("\n")
                                       else text + "\n")
