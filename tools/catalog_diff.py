"""Compare the query catalog of two source trees.

Imports `sparktika.queries` from each tree in its own subprocess and
compares, byte for byte: the registration order of `queries()` names,
the `oracle_sql()` dict (names, order and SQL text) and the
`_GATE_PRIORITY` list. Prints the counts and one DIFF line per
difference; exits 1 if there is any.

With `--rows SF_DIR`, each tree's subprocess also starts a local Spark
session (cwd = the tree, so its Python workers import that tree's
package), runs every query (or only the NAMEs given) on SF_DIR and
reports, per query, its column names and a sha256 of its sorted rows.
Rows are compared order-insensitively; map values compare by sorted
key, floats by 12 significant digits, and the measured-time columns
`parse_ms` and `wall_ms` (`metrics_partition_lineage`) not at all. A
query that raises is reported by its exception type and compares like
a result. Prints one DIFF line per query whose columns or rows differ;
about 2-3 minutes per tree at sf0.001 on a 4-vCPU host.

Usage: python tools/catalog_diff.py [--rows SF_DIR] OLD_TREE NEW_TREE [NAME ...]
"""

from __future__ import annotations

import json
import subprocess
import sys

_DUMP = """
import json, sys
sys.path.insert(0, sys.argv[1])
from sparktika import queries as q
print(json.dumps({"registered": list(q._Q),
                  "gate_order": list(q.all_queries()),
                  "oracles": list(q.all_oracles().items()),
                  "gate_priority": q._GATE_PRIORITY}))
"""

_ROWS = """
import hashlib, json, math, sys
sys.path.insert(0, sys.argv[1])
from sparktika import queries as q
from sparktika.pipeline.session import build_session

def canon(v):
    if isinstance(v, (list, tuple)):  # a Row is a tuple
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((repr(canon(k)), canon(x)) for k, x in v.items()))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else format(v, ".12g")
    return v

CLOCK = {"parse_ms", "wall_ms"}
spark = build_session(master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
out = {}
for name in sys.argv[3:] or list(q._Q):
    try:
        df = q._Q[name](spark, sys.argv[2])
        keep = [i for i, c in enumerate(df.columns) if c not in CLOCK]
        rows = sorted(repr(canon([r[i] for i in keep]))
                      for r in df.collect())
        out[name] = {"columns": df.columns, "n_rows": len(rows),
                     "sha256": hashlib.sha256(
                         "\\n".join(rows).encode()).hexdigest()}
    except Exception as e:
        out[name] = {"error": type(e).__name__}
spark.stop()
print(json.dumps(out))
"""


def _run(script: str, tree: str, *args: str) -> dict:
    out = subprocess.run([sys.executable, "-c", script, tree, *args],
                         cwd=tree, check=True, capture_output=True,
                         text=True).stdout
    return json.loads(out.splitlines()[-1])


def main(old_tree: str, new_tree: str, sf_dir: str | None = None,
         names: list[str] | None = None) -> int:
    old, new = _run(_DUMP, old_tree), _run(_DUMP, new_tree)
    for tree, d in (("old", old), ("new", new)):
        print(f"{tree}: {len(d['registered'])} queries, "
              f"{len(d['oracles'])} oracles, "
              f"{len(d['gate_priority'])} gate-priority names")
    diffs = [k for k in old if old[k] != new[k]]
    if sf_dir is not None:
        old_rows = _run(_ROWS, old_tree, sf_dir, *names)
        new_rows = _run(_ROWS, new_tree, sf_dir, *names)
        errors = sum("error" in r for r in new_rows.values())
        print(f"rows: {len(new_rows)} queries run on {sf_dir}, "
              f"{errors} raised in the new tree")
        diffs += [f"rows {n}" for n in sorted(old_rows.keys() | new_rows.keys())
                  if old_rows.get(n) != new_rows.get(n)]
    for k in diffs:
        print(f"DIFF {k}")
    print("identical" if not diffs else f"{len(diffs)} differing")
    return 1 if diffs else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = None
    if args[:1] == ["--rows"]:
        sf, args = args[1], args[2:]
    sys.exit(main(args[0], args[1], sf, args[2:]))
