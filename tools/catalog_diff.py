"""Compare the query catalog of two source trees.

Imports `sparktika.queries` from each tree in its own subprocess and
compares, byte for byte: the registration order of `queries()` names,
the `oracle_sql()` dict (names, order and SQL text) and the
`_GATE_PRIORITY` list. Prints the counts and one DIFF line per
difference; exits 1 if there is any.

Usage: python tools/catalog_diff.py OLD_TREE NEW_TREE
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


def _dump(tree: str) -> dict:
    out = subprocess.run([sys.executable, "-c", _DUMP, tree], cwd=tree,
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out.splitlines()[-1])


def main(old_tree: str, new_tree: str) -> int:
    old, new = _dump(old_tree), _dump(new_tree)
    for tree, d in (("old", old), ("new", new)):
        print(f"{tree}: {len(d['registered'])} queries, "
              f"{len(d['oracles'])} oracles, "
              f"{len(d['gate_priority'])} gate-priority names")
    diffs = [k for k in old if old[k] != new[k]]
    for k in diffs:
        print(f"DIFF {k}")
    print("identical" if not diffs else f"{len(diffs)} differing")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
