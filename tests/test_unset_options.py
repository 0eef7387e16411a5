"""Every keyword default of a `stanza_spark` function is set by some caller.

A parameter with a default that no call site in the repository sets is a
constant dressed up as an option: it doubles the configurations a reader
has to consider and usually guards a branch nothing takes. This is a pure
AST scan (no Spark) over `git ls-files '*.py'`:

- each call `f(...)`, `x.f(...)` or `Cls(...)` is resolved by name to every
  `def f` (or `Cls.__init__`) in the repository, and a call through a name
  bound to functions (`fn = f`, `fn, gn = f, g`, `fn = f if c else h`) to
  each of them;
- a positional or keyword argument sets the parameter it binds to, and a
  call with `*args` / `**kwargs` sets every parameter of its target;
- an argument that is a bare name of a parameter of the enclosing function
  sets its target only once that enclosing parameter is itself set (a
  required parameter always is, and so is an allow-listed one), repeated
  until nothing changes.

Run it directly to list what it finds: `python tests/test_unset_options.py`.
"""

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (module path, function name or "*") -> reason its defaults stay options
# although no caller sets them. What they pass on counts as set.
ALLOWED = {
    ("stanza_spark/api.py", "*"):
        "the documented entry point mirrors Stanza's Pipeline(lang=...) "
        "keywords, which a user sets, not a caller in this repository",
    ("stanza_spark/sources/icetable.py", "*"):
        "mirrors Iceberg's scan / time-travel API",
    ("stanza_spark/operators/coref_train.py", "write_weights"):
        "deployment setting: where trained weights are written",
    ("stanza_spark/operators/learned_train.py", "write_weights"):
        "deployment setting: where trained weights are written",
}


def _files():
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                         capture_output=True, text=True, check=True)
    return [p for p in out.stdout.split() if p]


class _Def:
    def __init__(self, path, qualname, node, is_method):
        self.path, self.qualname = path, qualname
        a = node.args
        self.positional = [x.arg for x in a.posonlyargs + a.args]
        self.defaulted = set(
            self.positional[len(self.positional) - len(a.defaults):])
        self.defaulted |= {k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None}
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in node.decorator_list)
        self.offset = 1 if is_method and not static else 0


def _names(node):
    """Names an assignment side binds or yields, element by element."""
    if isinstance(node, ast.Name):
        return [[node.id]]
    if isinstance(node, ast.Tuple):
        return [sum(_names(e), []) for e in node.elts]
    if isinstance(node, ast.IfExp):
        return [sum(_names(node.body) + _names(node.orelse), [])]
    return [[]]


def _collect(trees):
    """All defs by call name, the calls with their enclosing def, and the
    names each plain-name assignment binds to other names."""
    by_name, scoped_calls, aliases = {}, [], {}

    def visit(path, node, prefix, cls, enclosing):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                d = _Def(path, prefix + child.name, child, cls is not None)
                name = cls if child.name == "__init__" and cls else child.name
                by_name.setdefault(name, []).append(d)
                visit(path, child, d.qualname + ".", None, d)
            elif isinstance(child, ast.ClassDef):
                visit(path, child, prefix + child.name + ".", child.name,
                      enclosing)
            else:
                if isinstance(child, ast.Call):
                    scoped_calls.append((child, enclosing))
                elif isinstance(child, ast.Assign):
                    values = _names(child.value)
                    for t in child.targets:
                        for tn, vn in zip(_names(t), values):
                            if len(tn) == 1:
                                aliases.setdefault(tn[0], set()).update(vn)
                visit(path, child, prefix, cls, enclosing)

    for path, tree in trees.items():
        visit(path, tree, "", None, None)
    return by_name, scoped_calls, aliases


def _callee(call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def unset_defaults():
    """[(path, qualname, param)] for stanza_spark defaults no caller sets."""
    trees = {}
    for p in _files():
        with open(os.path.join(REPO, p)) as f:
            trees[p] = ast.parse(f.read(), p)
    by_name, calls, aliases = _collect(trees)

    is_set = set()      # (id(def), param)
    depends = []        # (target key, source key): target set once source is
    for call, enclosing in calls:
        name = _callee(call)
        targets = [d for n in {name} | aliases.get(name, set())
                   for d in by_name.get(n, [])]
        star = any(isinstance(a, ast.Starred) for a in call.args) or \
            any(k.arg is None for k in call.keywords)
        for d in targets:
            if star:
                is_set.update((id(d), p) for p in d.defaulted)
                continue
            bound = [(d.positional[d.offset + i], a)
                     for i, a in enumerate(call.args)
                     if d.offset + i < len(d.positional)]
            bound += [(k.arg, k.value) for k in call.keywords]
            for param, value in bound:
                if param not in d.defaulted:
                    continue
                if (enclosing is not None and isinstance(value, ast.Name)
                        and value.id in enclosing.defaulted):
                    depends.append(((id(d), param),
                                    (id(enclosing), value.id)))
                else:
                    is_set.add((id(d), param))
    is_set.update((id(d), p) for defs in by_name.values() for d in defs
                  if _allowed(d.path, d.qualname) for p in d.defaulted)
    changed = True
    while changed:
        changed = False
        for target, source in depends:
            if source in is_set and target not in is_set:
                is_set.add(target)
                changed = True

    found = []
    for defs in by_name.values():
        for d in defs:
            if not d.path.startswith("stanza_spark/") or \
                    _allowed(d.path, d.qualname):
                continue
            for p in sorted(d.defaulted):
                if (id(d), p) not in is_set:
                    found.append((d.path, d.qualname, p))
    return sorted(found)


def _allowed(path, qualname):
    return (path, "*") in ALLOWED or \
        (path, qualname.rsplit(".", 1)[-1]) in ALLOWED


def test_every_default_is_set_by_some_caller():
    left = [f"{p}:{q}({a}=...)" for p, q, a in unset_defaults()]
    assert not left, (
        f"{len(left)} parameters with defaults that no caller sets; make "
        "each a constant (or allow-list it with a reason):\n  "
        + "\n  ".join(left))


if __name__ == "__main__":
    rows = unset_defaults()
    for p, q, a in rows:
        print(f"{p}:{q}({a})")
    print(len(rows), "unset", file=sys.stderr)
