"""Every package definition is reached from an engine entry point.

The entry points are the registered queries (``@query`` functions), the
package CLI (``__main__.py``), ``bench.py``, ``__spark_entry__.py``, the
scripts under ``tools/`` and the perfbench modules. A top-level function,
class or assignment of the package is reached when an entry point refers
to it by name, directly or through definitions it reaches, with names
resolved through imports. A re-export in an ``__init__`` is not a use, and
nor is a mention in a docstring.

A definition no entry point reaches is deleted with its tests, or it is
listed in :data:`ALLOWLIST` with the reference function it reproduces
(``file.py:line``) or the test that compares an engine path against it.
An allowlisted definition counts as an entry point for its own helpers,
so an entry that an engine path or another entry already reaches goes.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "video_data_pipeline_spark"

#: definition (module path under the package) -> why it stays without an
#: engine caller
ALLOWLIST = {
    "functions.codecs.tenbin_decode":
        "tests/test_codecs.py::test_sink_encodes_tensor_members decodes the sink's ten members",
    "functions.codecs.npy_decode":
        "tests/test_codecs.py::test_sink_encodes_tensor_members decodes the sink's npy members",
    "functions.codecs.npz_decode": "autodecode.py:145-192 (basichandlers npz)",
    "functions.images.image_handler": "autodecode.py:360-374 (imagehandler)",
    "functions.images.resize_cap": "tokenize/main.py:196-200 (the 1280 resize cap)",
    "functions.images.merlin_black_background": "pack/samplers.py:48-71",
    "functions.media.decode_images_batch": "autodecode.py:238-374 (ImageHandler)",
    "functions.media.IMAGE_SCHEMA": "autodecode.py:238-374 (the struct decode_images_batch emits)",
    "functions.text.check_sample":
        "tests/test_plans.py::test_index_catches_violations checks plans.index's SQL against it",
    "functions.text.detokenize": "tokenize/tokenizer.py:675-686",
    "functions.text.build_tokenizer": "tokenize/tokenizer.py:91,310,461,589 (the four classes)",
    "functions.text.vocab_size_with_padding": "tokenize/tokenizer.py:11-24",
    "operators.batching.unbatched": "filters.py:531-551",
    "operators.maps.map_with_policy": "filters.py:305-322 with handlers.py:21-47",
    "operators.mixing.round_robin": "mix.py:38-44 (RoundRobin)",
    "operators.observe.observed": "bench.py:15-61 (TotalSize)",
    "operators.observe.log_keys_cols": "filters.py:271 (_log_keys)",
    "operators.observe.cached": "filters.py:683-736 (Cached, LMDBCached)",
    "queries.packing._greedy_walk_sql":
        "tests/test_oracle_parity.py::test_packing_oracle_forms_agree checks the registered oracle",
    "queries.packing._shard_roll_sql":
        "tests/test_oracle_parity.py::test_packing_oracle_forms_agree checks the registered oracle",
    "sources.cbors.cbors_to_samples": "cborsiterators.py:6-51",
    "sources.gopen.register_scheme": "gopen.py:316-344 (gopen_schemes)",
    "sources.multishard.multi_shard_sample": "shardlists.py:192-271 (MultiShardSample)",
    "sources.webdataset.decode_columns": "filters.py:283-302 (decode)",
    "sources.webdataset.to_dict": "filters.py:409-438",
}

_REFERENCE = re.compile(r"^[\w/]+\.py:\d+")
_TEST = re.compile(r"^(tests/test_\w+\.py)::(test_\w+)\b")


class _Module:
    """Top-level definitions, import aliases and import-time code of one file."""

    def __init__(self, name: str, path: pathlib.Path):
        self.name = name
        self.tree = ast.parse(path.read_text())
        self.defs: dict[str, ast.AST] = {}
        self.module_code: list[ast.AST] = []
        self._collect(self.tree.body)
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports[a.asname] = (a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self.imports[top] = (top, None)
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    self.imports[a.asname or a.name] = (node.module or "", a.name)

    def _collect(self, body: list[ast.stmt]) -> None:
        for st in body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[st.name] = st
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    if isinstance(t, ast.Name) and not t.id.startswith("__"):
                        self.defs[t.id] = st
                if st.value is not None:
                    self.module_code.append(st.value)
            elif isinstance(st, ast.If):
                self.module_code.append(st.test)
                self._collect(st.body)
                self._collect(st.orelse)
            elif isinstance(st, ast.Try):
                self._collect(st.body)
                for h in st.handlers:
                    self._collect(h.body)
                self._collect(st.orelse)
                self._collect(st.finalbody)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                self.module_code.append(st)


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Graph:
    def __init__(self):
        self.pkg = {
            _module_name(p): _Module(_module_name(p), p)
            for p in sorted((ROOT / PKG).rglob("*.py"))
        }
        self.edges: dict[tuple[str, str], set] = {}
        for m in self.pkg.values():
            self.edges[(m.name, "<module>")] = self.refs(m, m.module_code)
            for name, node in m.defs.items():
                body = node.value if isinstance(node, (ast.Assign, ast.AnnAssign)) else node
                self.edges[(m.name, name)] = self.refs(m, [body]) | {(m.name, "<module>")}

    def resolve(self, module: str, attr: str, seen: frozenset = frozenset()) -> set:
        """``module.attr`` -> the definition it names, through re-exports."""
        if f"{module}.{attr}" in self.pkg:
            return {(f"{module}.{attr}", "<module>")}
        m = self.pkg.get(module)
        if m is None or (module, attr) in seen:
            return set()
        if attr in m.defs:
            return {(module, attr)}
        if attr in m.imports:
            base, name = m.imports[attr]
            if name is None:
                return {(base, "<module>")} if base in self.pkg else set()
            return self.resolve(base, name, seen | {(module, attr)})
        return set()

    def refs(self, mod: _Module, nodes: list) -> set:
        out: set = set()
        local = self.pkg.get(mod.name) is mod
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, ast.Name):
                    if local and node.id in mod.defs:
                        out.add((mod.name, node.id))
                    elif node.id in mod.imports:
                        base, name = mod.imports[node.id]
                        if name is not None:
                            out |= self.resolve(base, name)
                        elif base in self.pkg:
                            out.add((base, "<module>"))
                elif isinstance(node, ast.Attribute):
                    chain = []
                    cur = node
                    while isinstance(cur, ast.Attribute):
                        chain.append(cur.attr)
                        cur = cur.value
                    if not (isinstance(cur, ast.Name) and cur.id in mod.imports):
                        continue
                    base, name = mod.imports[cur.id]
                    target = base if name is None else f"{base}.{name}"
                    for attr in reversed(chain):
                        if target in self.pkg and f"{target}.{attr}" not in self.pkg:
                            out |= self.resolve(target, attr)
                            break
                        target = f"{target}.{attr}"
                elif isinstance(node, ast.ImportFrom):
                    if node.module in self.pkg:
                        out.add((node.module, "<module>"))
        return out

    def reach(self, roots: set) -> set:
        seen: set = set()
        stack = list(roots)
        while stack:
            key = stack.pop()
            if key in seen:
                continue
            seen.add(key)
            parts = key[0].split(".")
            stack.extend((".".join(parts[:i]), "<module>") for i in range(1, len(parts)))
            stack.extend(self.edges.get(key, ()))
        return seen

    def file_refs(self, path: pathlib.Path) -> set:
        mod = _Module(_module_name(path), path)
        return self.refs(mod, [mod.tree])

    def engine_roots(self) -> set:
        files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
        files += sorted((ROOT / "tools").glob("*.py"))
        files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
                  if not p.name.startswith("test_")]
        roots = {(PKG, "<module>")}
        for p in files:
            roots |= self.file_refs(p)
        main = self.pkg[f"{PKG}.__main__"]
        roots |= {(main.name, n) for n in main.defs} | {(main.name, "<module>")}
        for m in self.pkg.values():
            roots |= {(m.name, n) for n, node in m.defs.items() if _is_query(node)}
        return roots

    def test_roots(self) -> set:
        return set().union(*(self.file_refs(p) for p in sorted((ROOT / "tests").glob("*.py"))))

    def definitions(self) -> list[tuple[str, str]]:
        return [(m.name, n) for m in self.pkg.values() for n in m.defs]


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


def _key(dotted: str) -> tuple[str, str]:
    module, _, name = f"{PKG}.{dotted}".rpartition(".")
    return module, name


def test_every_definition_is_reached_from_an_engine_entry_point():
    g = _Graph()
    reached = g.reach(g.engine_roots() | {_key(d) for d in ALLOWLIST})
    tested = g.reach(g.test_roots())
    unreached = [
        f"{module}.{name} ({'tests only' if (module, name) in tested else 'unreferenced'})"
        for module, name in g.definitions()
        if (module, name) not in reached
    ]
    assert unreached == []


def test_every_allowlist_entry_is_reference_surface_with_a_test():
    g = _Graph()
    engine = g.engine_roots()
    tested = g.reach(g.test_roots())
    defined = set(g.definitions())
    problems = []
    for dotted, reason in ALLOWLIST.items():
        key = _key(dotted)
        others = {_key(d) for d in ALLOWLIST if d != dotted}
        if key not in defined:
            problems.append(f"{dotted}: no such definition")
        elif key in g.reach(engine | others):
            problems.append(f"{dotted}: reached without this entry; drop it")
        elif key not in tested:
            problems.append(f"{dotted}: no test refers to it")
        m = _TEST.match(reason)
        if m:
            path, test = m.groups()
            if f"def {test}(" not in (ROOT / path).read_text():
                problems.append(f"{dotted}: {path} has no {test}")
        elif not _REFERENCE.match(reason):
            problems.append(f"{dotted}: reason names neither a reference file:line nor a test")
    assert problems == []
