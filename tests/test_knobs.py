"""Options guard: a defaulted parameter that no caller varies is a constant.

Census over the package (`geoclimate_spark/`, `__spark_entry__.py`), with
`tools/`, `tests/` and `perfbench/` as further callers. For every function
whose name is defined once in the package, each parameter with a default
must be given another value by some call site: an argument that is not the
default's own expression, or a pass-through of a caller's parameter that is
itself varied (followed to a fixpoint). A parameter also stays when
`perfbench/` passes it (that directory is frozen) or when some call reaches
the function through `*args` / `**kw`. stdlib `ast` only.
"""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ["geoclimate_spark", "__spark_entry__.py"]
CALLERS = PACKAGE + ["tools", "tests", "perfbench"]
FROZEN = "perfbench"


def _sources(parts):
    for part in parts:
        path = ROOT / part
        for f in sorted(path.rglob("*.py")) if path.is_dir() else [path]:
            yield f.relative_to(ROOT).as_posix(), ast.parse(f.read_text())


def _defs(tree):
    """Yield (def, enclosing ClassDef or None) for every function def."""
    def walk(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield child, cls
                yield from walk(child, None)
            elif isinstance(child, ast.ClassDef):
                yield from walk(child, child)
            else:
                yield from walk(child, cls)
    yield from walk(tree, None)


def _defaulted(fn):
    """{name: default expr} of the parameters that have a default."""
    pos = fn.args.posonlyargs + fn.args.args
    out = dict(zip([a.arg for a in pos[len(pos) - len(fn.args.defaults):]],
                   fn.args.defaults))
    out.update((a.arg, d) for a, d in zip(fn.args.kwonlyargs,
                                          fn.args.kw_defaults) if d)
    return out


def census():
    """Return ({(module, function, param)} of every defaulted parameter of a
    uniquely named package function, the subset no caller varies, the names
    defined more than once)."""
    defs = {}
    names = Counter()
    for mod, tree in _sources(PACKAGE):
        for fn, cls in _defs(tree):
            names[fn.name] += 1
            defs[fn.name] = (mod, fn, cls)
    repeated = {n for n, c in names.items() if c > 1}
    unique = {n: d for n, d in defs.items() if n not in repeated}
    default = {n: _defaulted(fn) for n, (_, fn, _) in unique.items()}

    kept, edges = set(), []

    def visit(node, scopes, frozen):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            a = node.args
            params = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
            owner = getattr(node, "name", None)
            scopes = scopes + [(owner if owner in unique else None, params)]
        if isinstance(node, ast.Call):
            call(node, scopes, frozen)
        for child in ast.iter_child_nodes(node):
            visit(child, scopes, frozen)

    def source_of(value, scopes):
        """(function, param) when `value` names a parameter of an enclosing
        def or lambda; function is None unless it is a census function."""
        if isinstance(value, ast.Name):
            for owner, params in reversed(scopes):
                if value.id in params:
                    return owner, value.id
        return None

    def call(node, scopes, frozen):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name not in unique:
            return
        _, fn, cls = unique[name]
        pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
        bound = (cls is not None and isinstance(f, ast.Attribute)
                 and not any(getattr(d, "id", None) == "staticmethod"
                             for d in fn.decorator_list))
        pos = pos[1:] if bound else pos
        given = []
        for i, arg in enumerate(node.args):
            if isinstance(arg, ast.Starred):
                kept.update((name, p) for p in pos[i:])
                break
            if i < len(pos):
                given.append((pos[i], arg))
        for kw in node.keywords:
            if kw.arg is None:
                kept.update((name, p) for p in default[name])
            else:
                given.append((kw.arg, kw.value))
        for param, value in given:
            if param not in default[name]:
                continue
            if frozen:
                kept.add((name, param))
                continue
            if ast.dump(value) == ast.dump(default[name][param]):
                continue
            src = source_of(value, scopes)
            if src is None or src[0] is None:
                kept.add((name, param))
                continue
            owner_default = default[src[0]].get(src[1])
            if (owner_default is None
                    or ast.dump(owner_default) != ast.dump(
                        default[name][param])):
                kept.add((name, param))
            edges.append((src, (name, param)))

    for mod, tree in _sources(CALLERS):
        visit(tree, [], mod.startswith(FROZEN))

    changed = True
    while changed:
        changed = False
        for src, dst in edges:
            if src in kept and dst not in kept:
                kept.add(dst)
                changed = True

    everything = {(unique[n][0], n, p) for n in unique for p in default[n]}
    unvaried = {(m, n, p) for m, n, p in everything if (n, p) not in kept}
    return everything, unvaried, repeated


def test_every_default_is_varied_by_some_caller():
    everything, unvaried, _ = census()
    assert everything, "the census found no defaulted parameter"
    assert sorted(unvaried) == []


if __name__ == "__main__":
    everything, unvaried, repeated = census()
    print(len(everything), "defaulted,", len(unvaried), "unvaried in",
          len({(m, n) for m, n, _ in unvaried}), "functions,",
          len({m for m, _, _ in unvaried}), "modules;",
          len(repeated), "repeated names")
    print(Counter(p for _, _, p in unvaried).most_common(12))
