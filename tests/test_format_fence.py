"""Format fence: the snapshot sink's on-disk layout is spelled in ONE
module (``streaming/store.py``).  Any other package module that names
a layout file in a string literal — code or docstring — reintroduces a
second definition of the format, so this test fails on it."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lakehouse_cdc_spark"
FORMAT_MODULE = PKG / "streaming" / "store.py"
LAYOUT_TOKENS = ("_MANIFEST_", "_REFS.json", "_VERSION", ".claim")
#: (module, token) pairs that name a DIFFERENT layout: the cdclog
#: source fences its own writer generations with ``_gen-<n>.claim``
OTHER_LAYOUTS = {("sources/cdclog.py", ".claim")}


def _string_literals(path: pathlib.Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.lineno, node.value


def test_layout_names_live_only_in_the_format_module():
    leaks = []
    for path in sorted(PKG.rglob("*.py")):
        if path == FORMAT_MODULE:
            continue
        rel = path.relative_to(PKG).as_posix()
        for lineno, text in _string_literals(path):
            leaks += [
                f"{rel}:{lineno}: {tok!r}"
                for tok in LAYOUT_TOKENS
                if tok in text and (rel, tok) not in OTHER_LAYOUTS
            ]
    assert not leaks, "sink layout named outside store.py:\n" + "\n".join(leaks)


def test_format_module_names_every_layout_file():
    literals = " ".join(text for _, text in _string_literals(FORMAT_MODULE))
    assert all(tok in literals for tok in LAYOUT_TOKENS)
