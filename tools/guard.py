#!/usr/bin/env python
"""Negative leak/copy CI guard (VERDICT r5 item 7).

Fails (exit 1) when any first-party source file:
1. imports a module outside the public allowlist (stdlib + the baked-in
   public stack + this package) -- the leak guard: nothing proprietary,
   networked, or unvendored can creep into the import graph;
2. carries a reference-distinctive identifier in CODE (names that exist
   only in the reference implementation's class/function surface) --
   the copy guard: docstrings/comments may CITE reference symbols and
   file:line locations for parity auditing, code may not use them;
3. contains a non-public URL/bucket scheme or internal-looking env-var
   readout in code strings.

Run directly (`python tools/guard.py`) or via tools/check.py, which
invokes it before the oracle sweep.
"""

from __future__ import annotations

import ast
import io
import os
import re
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Public import surface: Python stdlib plus the container's baked-in
# public packages, this package, and the repo-local test/tool modules.
ALLOWED_TOP = set(sys.stdlib_module_names) | {
    "pyspark", "pandas", "numpy", "pyarrow", "duckdb", "pytest",
    "hypothesis", "py4j",
    "multiagent_form_schema_etl_spark", "tests", "tools",
    "__spark_entry__", "bench", "conftest", "perfbench",
    # vendored clean-room protobuf shim (package dir: vendor/pbshim);
    # `google.protobuf` resolves there via the documented sys.path shim
    "google",
}

# Identifiers that exist ONLY in the reference implementation's code
# surface (classes/functions/config fields). Allowed in docstrings and
# comments (parity citations); forbidden in executable code.
REFERENCE_TOKENS = (
    "ContractOrchestrator", "ContractState", "FormFiller", "FormInstance",
    "PDFIngester", "LayoutAnalyzer", "SchemaManager", "BaselineExtractor",
    "GeminiDirectExtractor", "GeminiVisionRecovery", "LlamaDirectExtractor",
    "LLMExtractor", "ValidationRecoveryManager", "RetryRecovery",
    "DefaultValueRecovery", "RecoveryStrategy", "FieldValidator",
    "RequiredFieldRule", "TypeValidationRule", "ConstraintValidationRule",
    "ExtractionMetrics", "DocumentBlock", "ModelConfig", "PathConfig",
    "ProcessingConfig",
    "init_contract_graph", "extract_contract", "populate_form",
    "layout_and_structure", "ingest_pdf", "evaluate_system",
    "get_orchestrator", "setup_directories",
)

# Suspicious string content in code (not docstrings): cloud buckets,
# internal-looking hosts, and env vars that suggest a non-public system.
BAD_STRING_RE = re.compile(
    r"s3://|gs://|abfss://|\.internal\b|\bcorp\.|"
    r"(?:https?://(?!localhost|127\.0\.0\.1|example\.com))",
    re.IGNORECASE)
# RFC-2606-style fixture domains are fine wherever they appear
EXAMPLE_RE = re.compile(r"example[-.]|[-.]example", re.IGNORECASE)
# Env reads are fine only for the documented knobs and the standard
# per-user cache location (XDG Base Directory spec).
ALLOWED_ENV = re.compile(
    r"^(SPARK_|JAVA_|PYSPARK_|PYTHON|PATH$|HOME$|TMP|XDG_CACHE_HOME$)")


# The guard itself and its pytest carry the blocklist / synthetic
# offender strings by construction.
SELF_FILES = {"guard.py", "test_guard.py"}


def first_party_files() -> list[str]:
    out = []
    for base, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if d not in {".git", "__pycache__", ".pytest_cache",
                                "scale_probe_data", ".claude"}
                   and not d.startswith("spark-warehouse")]
        for f in files:
            if f.endswith(".py") and f not in SELF_FILES:
                out.append(os.path.join(base, f))
    return sorted(out)


def _docstring_spans(tree: ast.AST) -> set[int]:
    """Line numbers occupied by docstring expression nodes."""
    spans: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef,
                             ast.AsyncFunctionDef, ast.ClassDef)):
            body = getattr(node, "body", [])
            if body and isinstance(body[0], ast.Expr) and isinstance(
                    body[0].value, ast.Constant) and isinstance(
                    body[0].value.value, str):
                d = body[0]
                spans.update(range(d.lineno, (d.end_lineno or d.lineno) + 1))
    return spans


def check_file(path: str) -> list[str]:
    rel = os.path.relpath(path, ROOT)
    src = open(path, encoding="utf-8").read()
    try:
        tree = ast.parse(src)
    except SyntaxError as ex:
        return [f"{rel}: syntax error: {ex}"]
    errors: list[str] = []

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module] if node.module and node.level == 0 else []
        else:
            continue
        for m in mods:
            top = m.split(".")[0]
            if top not in ALLOWED_TOP:
                errors.append(f"{rel}:{node.lineno}: non-allowlisted "
                              f"import '{m}'")
            elif top == "google" and not (
                    m == "google"
                    or m.startswith("google.protobuf")):
                # the allowlist entry exists ONLY for the vendored
                # google.protobuf shim; any other google.* submodule
                # (e.g. google.generativeai) is a leak
                errors.append(f"{rel}:{node.lineno}: non-allowlisted "
                              f"google submodule '{m}'")

    doc_lines = _docstring_spans(tree)
    # Strip comments by TOKENIZING, not by splitting on '#': a '#' inside
    # a string literal is code, and splitting there would hide
    # reference-distinctive tokens carried in executable strings.
    comment_col: dict[int, int] = {}
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type == tokenize.COMMENT:
                comment_col[tok.start[0]] = tok.start[1]
    except (tokenize.TokenError, IndentationError):
        pass  # syntax already validated by ast.parse above
    code_lines = {}
    for i, line in enumerate(src.splitlines(), 1):
        if i in doc_lines:
            continue
        code_lines[i] = line[:comment_col[i]] if i in comment_col else line
    for tok in REFERENCE_TOKENS:
        pat = re.compile(rf"\b{tok}\b")
        for i, line in code_lines.items():
            if pat.search(line):
                errors.append(f"{rel}:{i}: reference-distinctive token "
                              f"'{tok}' in code")

    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.lineno in doc_lines:
                continue
            if (BAD_STRING_RE.search(node.value)
                    and not EXAMPLE_RE.search(node.value)):
                errors.append(f"{rel}:{node.lineno}: suspicious string "
                              f"{node.value[:60]!r}")
    # every env read form: os.environ.get("X"), os.environ["X"],
    # os.getenv("X") -- plus the bare spellings getenv("X") / environ["X"]
    # that a `from os import getenv, environ` would enable (ADVICE r6:
    # the os.-prefixed regex alone let those escape the guard). Three
    # prefixes, each with its own boundary (ADVICE r8: a blanket
    # lookbehind over the whole alternation suppressed the os.-prefixed
    # branch when DOT-preceded, so mod.os.environ[...] escaped):
    #   (?<![\w.])os\.  -- the plain `os.` spelling, `os` a bare name
    #   \.os\.          -- an attribute chain ending in the os module
    #                      (self.os.getenv, mod.os.environ); `myos.` /
    #                      `chaos.` still pass: their `os` segment is
    #                      word-preceded, not dot-preceded
    #   (?<![\w.])      -- the bare from-import spelling; unrelated
    #                      attributes (request.environ, h.getenv) pass
    for m in re.finditer(
            r"(?:(?<![\w.])os\.|\.os\.|(?<![\w.]))"
            r"(?:environ(?:\.get)?\s*[\(\[]|getenv\s*\()"
            r"\s*['\"]([A-Z0-9_]+)", src):
        name = m.group(1)
        if not ALLOWED_ENV.match(name):
            ln = src[:m.start()].count("\n") + 1
            errors.append(f"{rel}:{ln}: non-allowlisted env var '{name}'")
    return errors


def main() -> int:
    errors: list[str] = []
    n = 0
    for path in first_party_files():
        n += 1
        errors.extend(check_file(path))
    if errors:
        print(f"GUARD FAIL ({len(errors)} finding(s) over {n} files):")
        for e in errors:
            print(" ", e)
        return 1
    print(f"GUARD OK: {n} files, imports/tokens/strings/env clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
