"""Extraction configuration.

Mirrors the safety envelope of the reference extractor's knobs:
- size cap before parse   (ref: client/TikaRunner.java:153-163 BoundedInputStream)
- char cap on output      (ref: main/TikaBodyContentHandler.java:100-115 writeLimit)
- bomb guards             (ref: main/ConfigurableAutoDetectParser.java:41-52 —
                           compression ratio 200, XML depth 200)
- per-doc deadline        (ref: client/TikaRunner.java:74-109 abortAfterMs polling)

Unlike the reference (which kills a forked JVM), guards here are
cooperative checks inside pure-Python kernels; a tripped guard degrades
the row to a status, never fails the Spark task.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    # Documents larger than this are never parsed -> status='skipped_oversize'.
    max_bytes: int = 10_000_000
    # Max characters of extracted text; -1 = unlimited. Exceeding it yields
    # exactly max_chars chars + status='truncated' (we pin an exact cap; the
    # reference's observed 101-chars-at-cap-100 off-by-one is a commons-io
    # artifact we deliberately do not reproduce — see SURVEY.md O5).
    max_chars: int = -1
    # DOM nesting depth guard (reference default 200).
    max_depth: int = 200
    # Decompression ratio guard for PDF Flate streams (reference default 200).
    max_inflate_ratio: float = 200.0
    # Absolute cap on a single inflated stream, backstop for tiny inputs.
    max_inflate_bytes: int = 256_000_000
    # Cooperative per-document deadline in ms; <=0 disables.
    timeout_ms: int = 60_000
    # Collect links during the HTML walk (ref: extractHtmlLinks property).
    extract_links: bool = True
    # Also compute boilerplate-stripped main text (density heuristics).
    extract_main_text: bool = True
    # Metadata-only mode: skip text assembly (ref: parseContent=false path).
    parse_content: bool = True
    # Opt-in: surface HTML <meta name=... content=...> pairs as metadata
    # (Tika HtmlParser behavior for description/keywords/og:* tags).
    # Default off: the reference fixture's pinned 8-key golden count
    # predates named-meta capture, so parity stays byte-stable.
    html_meta_tags: bool = False
    # Max nesting depth for embedded-document recursion (.msg embedded
    # messages / binary attachments, .doc ObjectPool objects); 0 disables
    # recursion (one-level degrade). Mirrors the reference's guarded
    # embedded auto-detect parse (ConfigurableAutoDetectParser).
    max_embed_depth: int = 4
    # PDF inline-image opt-in (O24; ref default off,
    # main/TikaForkMain.java:98,307-311): when on, image XObject and inline
    # BI/ID/EI counts are emitted as pdf:image-count / pdf:inline-image-count.
    pdf_extract_inline_images: bool = False

    def with_(self, **kw) -> "ExtractConfig":
        from dataclasses import replace

        return replace(self, **kw)


DEFAULT_CONFIG = ExtractConfig()
