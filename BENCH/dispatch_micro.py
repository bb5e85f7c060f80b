"""Interleaved single-core dispatcher microbench (the deterministic
tiebreaker of the bench protocol, established r6): measures
extract_document wall per doc over a FIXED mixed-format corpus, with no
Spark and no multiprocessing, so host steal shows up as slow samples
that min-of-R discards and A/B readings interleave across trees.

Two phases so both trees dispatch byte-identical payloads:

  # 1. write the corpus with the CURRENT tree's synth builders
  python BENCH/dispatch_micro.py write /tmp/micro.pkl \
      build_wpd build_dwg ...          # builder names in sparktika.synth

  # 2. run either tree over it (interleave invocations across trees)
  python BENCH/dispatch_micro.py run /root/repo /tmp/micro.pkl [reps]

`run` prints one JSON line {"label", "ms_per_doc", "samples"} where
ms_per_doc is the min over `reps` full-corpus passes (default 3).
A builder name prefixed with '*' is called as NAME(i) but the payload
url gets no extension hint (pure magic dispatch).

A third mode checks that two trees give the same results:

  python BENCH/dispatch_micro.py diff OLD_TREE NEW_TREE

It writes one corpus with OLD_TREE's synth builders: every
`sparktika.synth.build_*` that takes a doc_id, for doc_ids 0-3, each
payload under a bare url and again under a url with its usual extension.
Each tree then runs `extract_document` over the corpus under five configs
(DIFF_CONFIGS), in its own subprocess. Every (url, config) whose
ExtractResult differs in any field but parse_ms is printed, then one
JSON summary line; the exit status is 1 if any result differs.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
import tempfile
import time

DOCS_PER_BUILDER = 25
DIFF_DOC_IDS = range(4)
# ExtractConfig overrides per diff config; "synth" is synth.SYNTH_CONFIG
DIFF_CONFIGS = {
    "default": {},
    "synth": None,
    "meta_only": {"parse_content": False, "extract_main_text": False,
                  "extract_links": False},
    "max_chars_40": {"max_chars": 40},
    "embed_depth_0": {"max_embed_depth": 0},
}
# the codec routes strip these from the url; mimetypes knows none of them
CODEC_EXTENSIONS = {
    "application/gzip": ".gz", "application/x-bzip2": ".bz2",
    "application/x-xz": ".xz", "application/zstd": ".zst",
    "application/x-lz4": ".lz4", "application/x-compress": ".z",
    "application/x-lzma": ".lzma", "application/x-snappy": ".sz",
    "application/zlib": ".zz",
}


def write(out: str, names: list[str]) -> None:
    import sparktika.synth as synth

    corpus: list[tuple[str, bytes]] = []
    skipped = []
    for name in names:
        fn = getattr(synth, name)
        try:
            fn(0)
        except TypeError:
            skipped.append(name)  # not a (doc_id)->bytes builder
            continue
        for i in range(DOCS_PER_BUILDER):
            corpus.append((f"https://x/{name}/{i}", fn(i)))
    if skipped:
        print(json.dumps({"skipped_non_docid_builders": skipped}),
              file=sys.stderr)
    # a slab of plain html/text pages keeps the mix dispatcher-realistic
    for i in range(4 * DOCS_PER_BUILDER):
        html = (f"<html><head><title>t{i}</title></head><body>"
                + "".join(f"<p>para {i} {j} word word word</p>"
                          for j in range(20))
                + "</body></html>").encode()
        corpus.append((f"https://x/html/{i}", html))
    with open(out, "wb") as f:
        pickle.dump(corpus, f)
    print(json.dumps({"written": out, "docs": len(corpus),
                      "bytes": sum(len(b) for _, b in corpus)}))


def run(tree: str, corpus_path: str, reps: int) -> None:
    sys.path.insert(0, os.path.abspath(tree))
    from sparktika.kernels.extract import extract_document

    with open(corpus_path, "rb") as f:
        corpus = pickle.load(f)
    # warm imports / JIT-ish caches outside the timed region
    for url, payload in corpus[:20]:
        extract_document(url, None, payload)
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for url, payload in corpus:
            extract_document(url, None, payload)
        samples.append((time.perf_counter() - t0) * 1000 / len(corpus))
    print(json.dumps({"label": tree, "ms_per_doc": round(min(samples), 4),
                      "samples": [round(s, 4) for s in samples],
                      "docs": len(corpus)}))


def diff_corpus(tree: str) -> list[tuple[str, bytes]]:
    import mimetypes

    sys.path.insert(0, os.path.abspath(tree))
    import sparktika.synth as synth
    from sparktika.kernels.mime import detect_mime

    corpus = []
    for name in sorted(n for n in dir(synth) if n.startswith("build_")):
        for i in DIFF_DOC_IDS:
            try:
                payload = getattr(synth, name)(i)
            except TypeError:
                break  # not a (doc_id)->bytes builder
            if not isinstance(payload, bytes):
                break
            kind = detect_mime(payload)
            ext = (CODEC_EXTENSIONS.get(kind)
                   or mimetypes.guess_extension(kind) or ".bin")
            corpus.append((f"https://x/{name}/{i}", payload))
            corpus.append((f"https://x/{name}/{i}{ext}", payload))
    return corpus


def dump(tree: str, corpus_path: str, out: str) -> None:
    """Every result of `tree` over the corpus x DIFF_CONFIGS, as
    comparable tuples: all ExtractResult fields but parse_ms, metadata
    as its ordered items (Spark map columns keep insertion order)."""
    sys.path.insert(0, os.path.abspath(tree))
    from dataclasses import asdict, replace

    from sparktika.config import DEFAULT_CONFIG
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import SYNTH_CONFIG

    with open(corpus_path, "rb") as f:
        corpus = pickle.load(f)
    results = {}
    for cname, over in DIFF_CONFIGS.items():
        cfg = SYNTH_CONFIG if over is None else replace(DEFAULT_CONFIG, **over)
        for url, payload in corpus:
            r = asdict(extract_document(url, None, payload, cfg))
            del r["parse_ms"]
            r["metadata"] = [(k, v) for k, v in r["metadata"].items()
                             if k != "parsing_time"]
            results[(url, cname)] = repr(sorted(r.items()))
    with open(out, "wb") as f:
        pickle.dump(results, f)


def diff(old: str, new: str) -> int:
    with tempfile.TemporaryDirectory() as tmp:
        corpus_path = os.path.join(tmp, "corpus.pkl")
        with open(corpus_path, "wb") as f:
            pickle.dump(diff_corpus(old), f)
        sides = []
        for i, tree in enumerate((old, new)):
            out = os.path.join(tmp, f"{i}.pkl")
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            "dump", tree, corpus_path, out], check=True)
            with open(out, "rb") as f:
                sides.append(pickle.load(f))
    a, b = sides
    differing = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    for url, cname in differing:
        print(f"DIFF {cname} {url}\n  old: {a.get((url, cname))}"
              f"\n  new: {b.get((url, cname))}")
    print(json.dumps({"results": len(a.keys() | b.keys()),
                      "docs": len(a) // len(DIFF_CONFIGS),
                      "configs": len(DIFF_CONFIGS),
                      "differing": len(differing)}))
    return 1 if differing else 0


if __name__ == "__main__":
    if sys.argv[1] == "write":
        write(sys.argv[2], sys.argv[3:])
    elif sys.argv[1] == "run":
        run(sys.argv[2], sys.argv[3],
            int(sys.argv[4]) if len(sys.argv) > 4 else 3)
    elif sys.argv[1] == "diff":
        raise SystemExit(diff(sys.argv[2], sys.argv[3]))
    elif sys.argv[1] == "dump":
        dump(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        raise SystemExit("usage: write <out> <builders...> | "
                         "run <tree> <corpus> [reps] | "
                         "diff <old_tree> <new_tree>")
