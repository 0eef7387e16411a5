"""Every public top-level `def`/`class` of `stanza_spark` is reached by the
program, not only by tests.

Code that only tests call is a second implementation nobody runs: it
costs review and upkeep and proves nothing about the gates. This is a pure
AST scan (no Spark) over `git ls-files '*.py'`:

- a definition is reached when a non-test file refers to its name as a
  `Name`, an `Attribute` or an imported name (resolved by name only, so a
  shared name reaches every definition that carries it);
- a reference at module level, or from a file outside `stanza_spark/`
  (gates, tools, bench, perfbench), always counts; one from inside a
  top-level definition of `stanza_spark/` counts only once that
  definition is itself reached, repeated until nothing changes;
- files under `tests/` never count.

Run it directly to list what it finds: `python tests/test_reached.py`.
"""

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "stanza_spark/"

# (module path, name) -> reason it stays although no program file reaches
# it. An entry counts as reached, so what it refers to is reached too.
ALLOWED = {
    ("stanza_spark/api.py", "Pipeline"):
        "the documented entry point (README row 1); the only caller of the "
        "pretokenized/no_ssplit variants and of render_document",
    # references the tests compare the program against
    ("stanza_spark/operators/annotate.py", "align_pretokenized"):
        "the annotator's char offsets are checked against it",
    ("stanza_spark/operators/morphseg.py", "segment_word"):
        "the morphseg SQL is checked against it",
    ("stanza_spark/operators/graph.py", "salted_support"):
        "checked against materialize_graph; the holistic-aggregate form "
        "SURVEY C6 names",
    ("stanza_spark/operators/similarity.py", "embedding_dup_pairs"):
        "the thresholded exact join the ANN tests compare against",
    ("stanza_spark/sources/avro.py", "read_container"):
        "write_container is checked against it",
    ("stanza_spark/sources/conllu.py", "parse_conllu"):
        "byte-exact {:C} round-trip check of render_document's format",
    ("stanza_spark/sources/conllu.py", "render_parsed"):
        "byte-exact {:C} round-trip check of render_document's format",
    ("stanza_spark/operators/ner_tags.py", "merge_tags"):
        "the span-level relational merge (ner_merge) is checked against it",
}


def _files():
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                         capture_output=True, text=True, check=True)
    return [p for p in out.stdout.split() if p]


def _refs(node):
    """Every name `node` refers to: Name ids, Attribute attrs, and the
    names an import binds or imports."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                out.add(a.name.rsplit(".", 1)[-1])
                if a.asname:
                    out.add(a.asname)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached():
    """[(path, name)] for public top-level stanza_spark definitions that
    no program file reaches and ALLOWED does not name."""
    always = set()          # names referenced unconditionally
    inside = []             # (def key, names referenced from its body)
    public = []             # (path, name)
    for path in _files():
        if path.startswith("tests/"):
            continue
        with open(os.path.join(REPO, path)) as f:
            tree = ast.parse(f.read(), path)
        if not path.startswith(PACKAGE):
            always |= _refs(tree)
            continue
        for node in tree.body:
            if isinstance(node, _DEFS):
                inside.append(((path, node.name), _refs(node) - {node.name}))
                if not node.name.startswith("_"):
                    public.append((path, node.name))
            else:
                always |= _refs(node)

    reached_names = set(always)
    reached = set()
    changed = True
    while changed:
        changed = False
        for key, names in inside:
            if key not in reached and (key[1] in reached_names
                                       or key in ALLOWED):
                reached.add(key)
                reached_names |= names
                changed = True
    return sorted(k for k in public
                  if k not in reached and k not in ALLOWED)


def test_every_public_definition_is_reached():
    left = [f"{p}:{n}" for p, n in unreached()]
    assert not left, (
        f"{len(left)} public definitions that only tests reach; delete "
        "them (or allow-list one with a reason):\n  " + "\n  ".join(left))


def test_allow_list_names_existing_unreached_definitions():
    """An allow-list entry whose definition went, or that the program
    now reaches, is stale."""
    saved = dict(ALLOWED)
    ALLOWED.clear()
    try:
        left = set(unreached())
    finally:
        ALLOWED.update(saved)
    stale = sorted(set(ALLOWED) - left)
    assert not stale, f"stale ALLOWED entries: {stale}"


if __name__ == "__main__":
    rows = unreached()
    for p, n in rows:
        print(f"{p}:{n}")
    print(len(rows), "unreached", file=sys.stderr)
