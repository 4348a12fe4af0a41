"""Source-file chunking as a mapInPandas stage.

The reference parses 54 languages with tree-sitter AST queries
(src/parser/mod.rs:277 parse_file) plus a custom markdown
section-chunker (src/parser/chunk.rs).  The Spark shape is identical
regardless of parser backend: an Arrow-batched ``mapInPandas`` UDF
mapping (origin, bytes) → chunk rows, one parser instance per Python
worker.

Backends:
  - tree-sitter (public ``tree_sitter`` bindings) when installed —
    gated behind an import-try because this container lacks the wheel;
  - a deterministic regex chunker for Python/Markdown/text otherwise.
    It extracts top-level ``def``/``class`` blocks (with decorators and
    docstrings) and heading-delimited markdown sections — enough to
    run the whole downstream pipeline for real.

Chunk granularity, naming, and the line-span contract match the
reference chunk row; chunk ids are assigned later (identity.py) from
origin+span+hash, so the chunker stays a pure text transform.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from cqs_spark.index.schemas import CHUNK_PARSE_SCHEMA
from cqs_spark.rows import map_rows

try:  # pragma: no cover - not present in this container
    import tree_sitter  # noqa: F401

    HAVE_TREE_SITTER = True
except ImportError:
    HAVE_TREE_SITTER = False

EXT_LANGUAGE = {
    ".py": "python",
    ".md": "markdown",
    ".rs": "rust",
    ".sql": "sql",
    ".js": "javascript",
    ".ts": "typescript",
    ".go": "go",
    ".java": "java",
    ".c": "c",
    ".h": "c",
    ".cpp": "cpp",
    ".hpp": "cpp",
    ".cs": "csharp",
    ".rb": "ruby",
    ".php": "php",
    ".kt": "kotlin",
    ".kts": "kotlin",
    ".swift": "swift",
    ".scala": "scala",
    ".sh": "shell",
    ".bash": "shell",
    ".yaml": "yaml",
    ".yml": "yaml",
    ".toml": "toml",
    ".l5x": "l5x",
    ".l5k": "l5x",
    ".aspx": "aspx",
    ".ascx": "aspx",
    ".asmx": "aspx",
    # Registry parity with the reference's 55-language table
    # (src/language/languages.rs): extension → language name.
    ".jsx": "javascript",
    ".mjs": "javascript",
    ".cjs": "javascript",
    ".tsx": "typescript",
    ".pyi": "python",
    ".mdx": "markdown",
    ".rake": "ruby",
    ".gemspec": "ruby",
    ".cc": "cpp",
    ".cxx": "cpp",
    ".hh": "cpp",
    ".hxx": "cpp",
    ".ipp": "cpp",
    ".sc": "scala",
    ".dart": "dart",
    ".cu": "cuda",
    ".cuh": "cuda",
    ".glsl": "glsl",
    ".vert": "glsl",
    ".frag": "glsl",
    ".comp": "glsl",
    ".geom": "glsl",
    ".tesc": "glsl",
    ".tese": "glsl",
    ".m": "objc",
    ".mm": "objc",
    ".sol": "solidity",
    ".zig": "zig",
    ".ps1": "powershell",
    ".psm1": "powershell",
    ".pl": "perl",
    ".pm": "perl",
    ".proto": "protobuf",
    ".graphql": "graphql",
    ".gql": "graphql",
    ".tf": "hcl",
    ".tfvars": "hcl",
    ".hcl": "hcl",
    ".r": "r",  # matching is case-insensitive; list keys lowercase only
    ".gleam": "gleam",
    ".css": "css",
    ".lua": "lua",
    ".jl": "julia",
    ".ex": "elixir",
    ".exs": "elixir",
    ".vb": "vbnet",
    ".st": "structured_text",
    ".stl": "structured_text",
    ".hs": "haskell",
    ".elm": "elm",
    ".ml": "ocaml",
    ".mli": "ocaml",
    ".fs": "fsharp",
    ".fsi": "fsharp",
    ".erl": "erlang",
    ".hrl": "erlang",
    ".nix": "nix",
    ".html": "html",
    ".htm": "html",
    ".xhtml": "html",
    ".xml": "xml",
    ".xsd": "xml",
    ".xsl": "xml",
    ".xslt": "xml",
    ".wsdl": "xml",
    ".rss": "xml",
    ".svg": "xml",
    ".plist": "xml",
    ".tex": "latex",
    ".sty": "latex",
    ".ini": "ini",
    ".cfg": "ini",
    ".json": "json",
    ".jsonc": "json",
    ".mk": "make",
    ".mak": "make",
    ".vue": "vue",
    ".svelte": "svelte",
    ".cshtml": "razor",
    ".razor": "razor",
}

# Extension-less well-known files (reference resolves by basename too).
BASENAME_LANGUAGE = {
    "Makefile": "make",
    "makefile": "make",
    "GNUmakefile": "make",
    "Dockerfile": "shell",
    "Rakefile": "ruby",
    "Gemfile": "ruby",
}

_DEF_RE = re.compile(r"^(async\s+def|def|class)\s+([A-Za-z_][A-Za-z0-9_]*)")
_HEADING_RE = re.compile(r"^(#{1,6})\s+(.*)")
_DOCSTRING_RE = re.compile(r'^\s*[ru]*("""|\'\'\')(.*?)(\1)', re.DOTALL)

# Brace-language top-level declaration starters.  Each maps a regex to
# the chunk_type; group "name" is the chunk name.  The block extends to
# the matching close brace (brace counting — a deterministic
# approximation of the AST extent; tree-sitter replaces it when the
# wheel is present).
_BRACE_DECLS = {
    "rust": [
        (re.compile(r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:async\s+)?fn\s+(?P<name>\w+)"), "function"),
        (re.compile(r"^\s*(?:pub(?:\([^)]*\))?\s+)?(?:struct|enum|trait)\s+(?P<name>\w+)"), "class"),
        (re.compile(r"^\s*impl(?:<[^>]*>)?\s+(?P<name>\w+)"), "class"),
    ],
    "javascript": [
        (re.compile(r"^\s*(?:export\s+)?(?:default\s+)?(?:async\s+)?function\s*\*?\s*(?P<name>\w+)"), "function"),
        (re.compile(r"^\s*(?:export\s+)?class\s+(?P<name>\w+)"), "class"),
        (re.compile(r"^\s*(?:export\s+)?const\s+(?P<name>\w+)\s*=\s*(?:async\s*)?\([^)]*\)\s*=>"), "function"),
    ],
    "go": [
        (re.compile(r"^func\s+(?:\([^)]*\)\s*)?(?P<name>\w+)"), "function"),
        (re.compile(r"^type\s+(?P<name>\w+)\s+(?:struct|interface)"), "class"),
    ],
    "java": [
        (re.compile(r"^\s*(?:public|private|protected)?\s*(?:static\s+)?(?:final\s+)?(?:abstract\s+)?(?:class|interface|enum|record)\s+(?P<name>\w+)"), "class"),
        (re.compile(r"^\s{1,8}(?:public|private|protected)\s+(?:static\s+)?(?:final\s+)?[\w<>\[\],\s]+\s+(?P<name>\w+)\s*\([^;]*$"), "function"),
    ],
    "c": [
        (re.compile(r"^(?:static\s+|inline\s+|extern\s+)*[\w\*]+[\s\*]+(?P<name>\w+)\s*\([^;]*\)\s*\{?\s*$"), "function"),
        (re.compile(r"^(?:typedef\s+)?(?:struct|enum|union)\s+(?P<name>\w+)\s*\{"), "class"),
    ],
    "csharp": [
        (re.compile(r"^\s*(?:public|private|protected|internal)?\s*(?:static\s+)?(?:sealed\s+)?(?:partial\s+)?(?:class|interface|struct|record)\s+(?P<name>\w+)"), "class"),
        # 0 indent allowed: ASPX <script runat="server"> methods sit at
        # column 0 outside any class.
        (re.compile(r"^\s{0,8}(?:public|private|protected|internal)\s+(?:static\s+)?(?:async\s+)?[\w<>\[\],\s]+\s+(?P<name>\w+)\s*\([^;]*$"), "function"),
    ],
}
_BRACE_DECLS["typescript"] = _BRACE_DECLS["javascript"]
_BRACE_DECLS["cpp"] = _BRACE_DECLS["c"]
_BRACE_DECLS["php"] = [
    (re.compile(r"^\s*(?:public|private|protected)?\s*(?:static\s+)?function\s+&?(?P<name>\w+)"), "function"),
    (re.compile(r"^\s*(?:abstract\s+|final\s+)?(?:class|interface|trait|enum)\s+(?P<name>\w+)"), "class"),
]
_BRACE_DECLS["kotlin"] = [
    (re.compile(r"^\s*(?:public|private|protected|internal)?\s*(?:suspend\s+)?(?:inline\s+)?(?:override\s+)?fun\s+(?:<[^>]*>\s*)?(?:[\w.]+\.)?(?P<name>\w+)\s*\("), "function"),
    (re.compile(r"^\s*(?:public|private|protected|internal)?\s*(?:abstract\s+|open\s+|sealed\s+|data\s+|final\s+)*(?:class|object|interface)\s+(?P<name>\w+)"), "class"),
]
_BRACE_DECLS["swift"] = [
    (re.compile(r"^\s*(?:public|private|internal|fileprivate|open)?\s*(?:static\s+|class\s+)?(?:override\s+)?func\s+(?P<name>\w+)"), "function"),
    (re.compile(r"^\s*(?:public|private|internal|fileprivate|open)?\s*(?:final\s+)?(?:class|struct|enum|protocol|extension|actor)\s+(?P<name>[\w.]+)"), "class"),
]
_BRACE_DECLS["scala"] = [
    (re.compile(r"^\s*(?:override\s+)?(?:private\s+|protected\s+)?def\s+(?P<name>\w+)"), "function"),
    (re.compile(r"^\s*(?:final\s+|abstract\s+|sealed\s+|case\s+)*(?:class|object|trait)\s+(?P<name>\w+)"), "class"),
]
_BRACE_DECLS["shell"] = [
    (re.compile(r"^\s*function\s+(?P<name>[\w.-]+)\s*(?:\(\s*\))?\s*\{?"), "function"),
    (re.compile(r"^\s*(?P<name>[\w.-]+)\s*\(\s*\)\s*\{"), "function"),
]
_BRACE_DECLS["objc"] = [
    # @interface/@implementation bodies close at @end, not a brace; the
    # marker line still anchors a class chunk and methods chunk on their
    # own braces (tree-sitter replaces this when the wheel is present).
    (re.compile(r"^\s*@(?:interface|implementation|protocol)\s+(?P<name>\w+)"), "class"),
    (re.compile(r"^\s*[-+]\s*\([^)]*\)\s*(?P<name>\w+)"), "function"),
    (re.compile(r"^(?:static\s+|inline\s+)*[\w\*]+[\s\*]+(?P<name>\w+)\s*\([^;]*\)\s*\{?\s*$"), "function"),
]
_BRACE_DECLS["cuda"] = _BRACE_DECLS["c"] + [
    (re.compile(r"^\s*__(?:global|device|host)__\s+[\w\*<>\s]+?[\s\*](?P<name>\w+)\s*\("), "function"),
]
_BRACE_DECLS["glsl"] = _BRACE_DECLS["c"]
_BRACE_DECLS["dart"] = [
    (re.compile(r"^\s*(?:abstract\s+|base\s+|final\s+|sealed\s+)*(?:class|mixin|enum|extension)\s+(?P<name>\w+)"), "class"),
    (re.compile(r"^\s*(?:static\s+)?(?:[\w<>\[\]?,\s]+\s+)?(?P<name>[a-z]\w*)\s*\([^;]*\)\s*(?:async\s*)?\{"), "function"),
]
_BRACE_DECLS["solidity"] = [
    (re.compile(r"^\s*(?:abstract\s+)?(?:contract|library|interface)\s+(?P<name>\w+)"), "class"),
    (re.compile(r"^\s*(?:function|modifier|constructor)\s*(?P<name>\w*)"), "function"),
]
_BRACE_DECLS["zig"] = [
    (re.compile(r"^\s*(?:pub\s+)?(?:export\s+|inline\s+)?fn\s+(?P<name>\w+)"), "function"),
    (re.compile(r"^\s*(?:pub\s+)?const\s+(?P<name>\w+)\s*=\s*(?:packed\s+|extern\s+)?(?:struct|enum|union|opaque)"), "class"),
]
_BRACE_DECLS["powershell"] = [
    (re.compile(r"^\s*(?i:function|filter|workflow)\s+(?P<name>[\w-]+)"), "function"),
    (re.compile(r"^\s*(?i:class)\s+(?P<name>\w+)"), "class"),
]
_BRACE_DECLS["perl"] = [
    (re.compile(r"^\s*sub\s+(?P<name>\w+)"), "function"),
]
_BRACE_DECLS["protobuf"] = [
    (re.compile(r"^\s*(?:message|service|enum|oneof)\s+(?P<name>\w+)"), "class"),
    (re.compile(r"^\s*rpc\s+(?P<name>\w+)"), "function"),
]
_BRACE_DECLS["graphql"] = [
    (re.compile(r"^\s*(?:extend\s+)?(?:type|input|interface|enum|union|schema)\s*(?P<name>\w*)"), "class"),
    (re.compile(r"^\s*(?:query|mutation|subscription|fragment)\s+(?P<name>\w+)"), "function"),
]
_BRACE_DECLS["hcl"] = [
    # resource "aws_s3_bucket" "logs" { … } — name is the LAST label.
    (re.compile(r'^\s*(?:resource|data)\s+"[^"]+"\s+"(?P<name>[^"]+)"\s*\{'), "config"),
    (re.compile(r'^\s*(?:module|variable|output|provider)\s+"(?P<name>[^"]+)"\s*\{'), "config"),
    (re.compile(r"^\s*(?P<name>locals|terraform)\s*\{"), "config"),
]
_BRACE_DECLS["r"] = [
    (re.compile(r"^\s*(?P<name>[\w.]+)\s*(?:<-|=)\s*function\s*\("), "function"),
]
_BRACE_DECLS["gleam"] = [
    (re.compile(r"^\s*(?:pub\s+)?fn\s+(?P<name>\w+)"), "function"),
    (re.compile(r"^\s*(?:pub\s+)?(?:opaque\s+)?type\s+(?P<name>\w+)"), "class"),
]
_BRACE_DECLS["css"] = [
    # One rule block per top-level selector (config granularity — the
    # selector text is the chunk name).
    (re.compile(r"^(?P<name>[A-Za-z.#:\[*@][^{;]*?)\s*\{\s*$"), "config"),
]

# Ruby keyword-block openers that are closed by a matching ``end`` at
# the SAME indentation (well-formatted source; tree-sitter replaces the
# heuristic when the wheel is present).
_RUBY_DECL_RE = re.compile(
    r"^(?P<indent>\s*)(?P<kw>def|class|module)\s+(?P<name>(?:self\.)?[A-Za-z_][A-Za-z0-9_.!?=]*)"
)
_YAML_KEY_RE = re.compile(r"^(?P<name>[A-Za-z_][\w.-]*):")
_TOML_SECTION_RE = re.compile(r"^\[\[?(?P<name>[^\]]+?)\]?\]\s*(?:#.*)?$")

_SQL_DECL_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TABLE|VIEW|INDEX|FUNCTION|PROCEDURE|TRIGGER)"
    r"\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.\"]+)",
    re.IGNORECASE,
)


# Basenames and extensions match case-insensitively (the reference
# lowercases before registry lookup, src/parser/calls.rs:1443 — .L5X,
# DOCKERFILE, and .PY casings are common on Windows-authored trees).
# Normalized once at import; language_for is executor-hot-path code.
_BASENAME_LOWER = {k.lower(): v for k, v in BASENAME_LANGUAGE.items()}
_EXT_LOWER = {k.lower(): v for k, v in EXT_LANGUAGE.items()}


def language_for(origin: str) -> str:
    lowered = origin.lower()
    base = lowered.rsplit("/", 1)[-1]
    if base in _BASENAME_LOWER:
        return _BASENAME_LOWER[base]
    for ext, lang in _EXT_LOWER.items():
        if lowered.endswith(ext):
            return lang
    return "text"


def _doc_of(block: str) -> str | None:
    body = block.split("\n", 1)
    if len(body) < 2:
        return None
    m = _DOCSTRING_RE.match(body[1].lstrip("\n"))
    return m.group(2).strip() or None if m else None


_METHOD_RE = re.compile(r"^(    |\t)(async\s+def|def)\s+([A-Za-z_][A-Za-z0-9_]*)")


def chunk_python(origin: str, text: str) -> list[dict]:
    """AST-precision Python chunking via the stdlib ``ast`` module.

    The reference parses Python with a tree-sitter grammar
    (src/parser/mod.rs:277) and its ``parse_file_all`` capture set
    (src/parser/mod.rs:492) extracts exact signatures, docstrings, and
    nested scopes.  The tree-sitter wheel is absent in this container,
    but for Python specifically the standard library gives the same
    precision: exact multi-line signatures, decorator-inclusive spans,
    indentation-agnostic method discovery, and nested function capture.
    Falls back to the regex chunker on SyntaxError (truncated files,
    Python-2 sources, templates).
    """
    import ast

    try:
        tree = ast.parse(text)
    except (SyntaxError, ValueError, MemoryError, RecursionError):
        return _chunk_python_regex(origin, text)

    lines = text.split("\n")
    chunks: list[dict] = []

    def span_start(node: "ast.AST") -> int:
        decos = getattr(node, "decorator_list", [])
        return min([node.lineno] + [d.lineno for d in decos])

    def signature_of(node: "ast.AST") -> str:
        # Header = the def/class line(s) up to (excluding) the first body
        # statement; exact for multi-line signatures, which the regex
        # backend truncated to the first line.
        body = getattr(node, "body", [])
        if body and body[0].lineno > node.lineno:
            header = lines[node.lineno - 1 : body[0].lineno - 1]
        else:
            header = [lines[node.lineno - 1]]
        return re.sub(r"\s+", " ", " ".join(header)).strip()

    DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

    def emit(node: "ast.AST", parent: str | None, parent_is_class: bool) -> None:
        if isinstance(node, ast.ClassDef):
            kind = "class"
        elif parent is not None and parent_is_class:
            kind = "method"
        else:
            kind = "function"
        start = span_start(node)
        end = node.end_lineno or start
        row = dict(
            origin=origin,
            language="python",
            chunk_type=kind,
            name=node.name,
            signature=signature_of(node),
            content="\n".join(lines[start - 1 : end]).rstrip(),
            doc=ast.get_docstring(node) or None,
            line_start=start,
            line_end=end,
        )
        if parent is not None:
            row["parent_type_name"] = parent
        chunks.append(row)
        is_class = isinstance(node, ast.ClassDef)
        for child in node.body:
            if isinstance(child, DEF_NODES):
                emit(child, node.name, is_class)

    defs = [n for n in tree.body if isinstance(n, DEF_NODES)]
    # Preamble (imports, module docstring, constants) → module chunk.
    pre_end = min([span_start(n) - 1 for n in defs], default=len(lines))
    pre = "\n".join(lines[:pre_end]).strip()
    if pre:
        chunks.append(
            dict(
                origin=origin,
                language="python",
                chunk_type="module",
                name=origin.rsplit("/", 1)[-1],
                signature=None,
                content=pre,
                doc=ast.get_docstring(tree) or None,
                line_start=1,
                line_end=pre_end,
            )
        )
    for node in defs:
        emit(node, None, False)
    # Top-level code BETWEEN/AFTER defs (__main__ blocks, late constants)
    # would otherwise be lost now that def spans are exact; group each
    # contiguous gap segment into an extra module chunk.
    if defs:
        covered = sorted((span_start(n), n.end_lineno or n.lineno) for n in defs)
        cursor = covered[0][0]
        gaps: list[tuple[int, int]] = []
        for s, e in covered:
            if s > cursor:
                gaps.append((cursor, s - 1))
            cursor = max(cursor, e + 1)
        if cursor <= len(lines):
            gaps.append((cursor, len(lines)))
        for gs, ge in gaps:
            body = "\n".join(lines[gs - 1 : ge]).strip()
            if body:
                chunks.append(
                    dict(
                        origin=origin,
                        language="python",
                        chunk_type="module",
                        name=origin.rsplit("/", 1)[-1],
                        signature=None,
                        content=body,
                        doc=None,
                        line_start=gs,
                        line_end=ge,
                    )
                )
    return chunks


def _chunk_python_regex(origin: str, text: str) -> list[dict]:
    """Regex fallback (pre-AST backend): top-level def/class blocks + a
    module chunk for the preamble; class METHODS additionally emit as
    their own chunks carrying parent_type_name (the reference's method
    granularity, src/parser/types.rs:33-58)."""
    lines = text.split("\n")
    chunks: list[dict] = []
    starts: list[tuple[int, str, str]] = []  # (line_idx, kind, name)
    for i, line in enumerate(lines):
        m = _DEF_RE.match(line)
        if m:
            kind = "class" if m.group(1) == "class" else "function"
            starts.append((i, kind, m.group(2)))
    bounds = [s[0] for s in starts] + [len(lines)]
    # Preamble (imports, module docstring, constants) becomes a module chunk.
    pre_end = bounds[0] if starts else len(lines)
    pre = "\n".join(lines[:pre_end]).strip()
    if pre:
        chunks.append(
            dict(
                origin=origin,
                language="python",
                chunk_type="module",
                name=origin.rsplit("/", 1)[-1],
                signature=None,
                content=pre,
                doc=_doc_of("\n" + pre),
                line_start=1,
                line_end=pre_end,
            )
        )
    for (start, kind, name), end in zip(starts, bounds[1:]):
        # Pull leading decorators into the block.
        dec_start = start
        while dec_start > 0 and lines[dec_start - 1].lstrip().startswith("@"):
            dec_start -= 1
        block = "\n".join(lines[dec_start:end]).rstrip()
        chunks.append(
            dict(
                origin=origin,
                language="python",
                chunk_type=kind,
                name=name,
                signature=lines[start].strip(),
                content=block,
                doc=_doc_of("\n".join(lines[start:end])),
                line_start=dec_start + 1,
                line_end=end,
            )
        )
        if kind == "class":
            chunks.extend(_methods_of(origin, lines, start, end, name))
    return chunks


def _methods_of(
    origin: str, lines: list[str], cls_start: int, cls_end: int, cls_name: str
) -> list[dict]:
    """First-indent-level methods inside a class block."""
    starts = [
        (i, m.group(3))
        for i in range(cls_start + 1, cls_end)
        if (m := _METHOD_RE.match(lines[i]))
    ]
    out = []
    bounds = [s[0] for s in starts] + [cls_end]
    for (start, name), end in zip(starts, bounds[1:]):
        while end > start + 1 and not lines[end - 1].strip():
            end -= 1
        out.append(
            dict(
                origin=origin,
                language="python",
                chunk_type="method",
                name=name,
                signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(),
                doc=_doc_of("\n".join(lines[start:end])),
                line_start=start + 1,
                line_end=end,
                parent_type_name=cls_name,
            )
        )
    return out


def chunk_markdown(origin: str, text: str) -> list[dict]:
    """Heading-delimited sections (src/parser/chunk.rs shape)."""
    lines = text.split("\n")
    sections: list[tuple[int, str]] = [
        (i, m.group(2).strip()) for i, m in
        ((i, _HEADING_RE.match(line)) for i, line in enumerate(lines)) if m
    ]
    if not sections:
        body = text.strip()
        return (
            [
                dict(
                    origin=origin, language="markdown", chunk_type="section",
                    name=origin.rsplit("/", 1)[-1], signature=None, content=body,
                    doc=None, line_start=1, line_end=len(lines),
                )
            ]
            if body
            else []
        )
    chunks = []
    bounds = [s[0] for s in sections] + [len(lines)]
    for (start, title), end in zip(sections, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="markdown", chunk_type="section",
                name=title, signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(), doc=None,
                line_start=start + 1, line_end=end,
            )
        )
    return chunks


# Rust #[..], @Annotation, [Attribute], C++ template<> headers: lines
# that sit between a doc comment and its declaration without breaking
# their adjacency.
_ATTR_LINE_RE = re.compile(r"^\s*(#\[|@\w|\[\w|template\s*<)")
_LINE_DOC_RE = re.compile(r"^/{2,}!?\s?")


# ---------------------------------------------------------------------------
# Lexical classification for the brace family: per-character CODE /
# STRING / COMMENT classes so brace counting and declaration matching
# never read structure out of string literals or comments — the
# precision gap between raw-line regexes and a real parser that a
# lexer can close without the tree-sitter wheel
# (src/parser/mod.rs:277 owns this with full ASTs).
# ---------------------------------------------------------------------------

_CODE, _STR, _COM = 0, 1, 2

# (line_markers, block_pairs, quotes, multiline_quotes, esc_quotes).
# '#'-style markers require start-of-line or preceding whitespace
# (shell's ${#arr[@]} / "$#" must not open a comment); '//'-style need
# not.  esc_quotes lists the quote chars inside which a backslash
# escapes the next character — raw strings (Go backticks), shell/perl
# single quotes, and PowerShell strings (backtick escapes, not
# backslash) must NOT get backslash handling or a literal trailing
# backslash "closes over" the delimiter and the string state poisons
# the rest of the file.  Rust's quotes exclude ' (lifetimes would read
# as unterminated chars).
_C_MASK = (("//",), (("/*", "*/"),), "\"'", "", "\"'")
_MASK_CFG: dict[str, tuple] = {
    "c": _C_MASK, "cpp": _C_MASK, "java": _C_MASK, "csharp": _C_MASK,
    "objc": _C_MASK, "cuda": _C_MASK, "glsl": _C_MASK, "kotlin": _C_MASK,
    "swift": _C_MASK, "scala": _C_MASK, "dart": _C_MASK,
    "solidity": _C_MASK, "protobuf": _C_MASK,
    "javascript": (("//",), (("/*", "*/"),), "\"'", "`", "\"'`"),
    "typescript": (("//",), (("/*", "*/"),), "\"'", "`", "\"'`"),
    "go": (("//",), (("/*", "*/"),), "\"'", "`", "\"'"),
    "rust": (("//",), (("/*", "*/"),), "\"", "", "\""),
    "zig": (("//",), (), "\"", "", "\""),
    "php": (("//", "#"), (("/*", "*/"),), "\"'", "", "\"'"),
    "shell": (("#",), (), "\"'", "", "\""),
    "perl": (("#",), (), "\"'", "", "\""),
    "r": (("#",), (), "\"'", "", "\"'"),
    "hcl": (("#", "//"), (("/*", "*/"),), "\"", "", "\""),
    "powershell": (("#",), (("<#", "#>"),), "\"'", "", "\""),
    "graphql": (("#",), (), "\"", "", "\""),
    "gleam": (("//",), (), "\"", "", "\""),
    "css": ((), (("/*", "*/"),), "\"'", "", "\"'"),
}

# The escape CHARACTER inside esc_quotes strings.  Backslash everywhere
# except PowerShell, whose escape char is the backtick (`"a`"b"` keeps
# the string open past the escaped quote; backslashes in PS are plain
# path separators).  Doubled-quote escaping ('' / "") needs no special
# case: the scanner reads it as close-then-reopen, which masks the same
# characters as STRING either way.
_ESC_CHAR: dict[str, str] = {"powershell": "`"}


def _classify_lines(lines: list[str], lang: str) -> list[bytes] | None:
    """Per-char lexical class for each line, or None when the language
    has no mask config (callers fall back to raw-line behavior).
    Block comments and backtick strings carry state across lines;
    quote strings are line-bounded (an unterminated quote masks to end
    of line, never poisoning the rest of the file)."""
    cfg = _MASK_CFG.get(lang)
    if cfg is None:
        return None
    line_markers, blocks, quotes, ml_quotes, esc_quotes = cfg
    esc_char = _ESC_CHAR.get(lang, "\\")
    specials = set("".join(line_markers)) | set(quotes) | set(ml_quotes)
    for b in blocks:
        specials |= set(b[0]) | set(b[1])
    state: tuple[str, str] | None = None  # ("block", closer) | ("mlq", q)
    out: list[bytes] = []
    for ln in lines:
        n = len(ln)
        if state is None and not (set(ln) & specials):
            out.append(bytes(n))  # all CODE — the common fast path
            continue
        cls = bytearray(n)
        i = 0
        while i < n:
            if state is not None:
                kind, tok = state
                if kind == "block":
                    end = ln.find(tok, i)
                    stop = n if end < 0 else end + len(tok)
                    for k in range(i, stop):
                        cls[k] = _COM
                    i = stop
                    if end >= 0:
                        state = None
                else:  # multi-line (backtick) string
                    j = i
                    closed = False
                    esc = tok in esc_quotes
                    while j < n:
                        if esc and ln[j] == esc_char:
                            j += 2
                            continue
                        if ln[j] == tok:
                            closed = True
                            break
                        j += 1
                    stop = min(j + 1, n) if closed else n
                    for k in range(i, stop):
                        cls[k] = _STR
                    i = stop
                    if closed:
                        state = None
                continue
            marker = None
            for m in line_markers:
                if ln.startswith(m, i):
                    if m.startswith("#") and i > 0 and not ln[i - 1].isspace():
                        continue
                    marker = m
                    break
            if marker:
                for k in range(i, n):
                    cls[k] = _COM
                break
            blk = next((b for b in blocks if ln.startswith(b[0], i)), None)
            if blk:
                state = ("block", blk[1])
                for k in range(i, i + len(blk[0])):
                    cls[k] = _COM
                i += len(blk[0])
                continue
            ch = ln[i]
            if ch in ml_quotes:
                cls[i] = _STR
                state = ("mlq", ch)
                i += 1
                continue
            if ch in quotes:
                j = i + 1
                closed = False
                esc = ch in esc_quotes
                while j < n:
                    if esc and ln[j] == esc_char:
                        j += 2
                        continue
                    if ln[j] == ch:
                        closed = True
                        break
                    j += 1
                stop = min(j + 1, n) if closed else n
                for k in range(i, stop):
                    cls[k] = _STR
                i = stop
                continue
            i += 1
        out.append(bytes(cls))
    return out


def _code_only(ln: str, cls_ln: bytes | None) -> str:
    """The line with STRING/COMMENT chars blanked (positions kept)."""
    if cls_ln is None:
        return ln
    return "".join(
        c if k < len(cls_ln) and cls_ln[k] == _CODE else " "
        for k, c in enumerate(ln)
    )


def _brace_signature(
    lines: list[str], i: int, end: int, cls: list[bytes] | None = None
) -> str:
    """Declaration line(s): from the decl start to the opening brace or
    to balanced parens — the reference chunk row carries the full
    signature for every language (src/parser/types.rs:33-58), and a
    one-line slice truncates multi-line parameter lists.  Structure
    (the brace cut, paren balance) reads the lexically-classified view
    when available, so a '{' or '(' inside a default-argument string
    never truncates or extends the signature; output slices raw text.
    """
    sig: list[str] = []
    joined_code: list[str] = []
    for j in range(i, min(end, i + 8)):
        ln = lines[j]
        code_ln = _code_only(ln, cls[j] if cls else None)
        cut = code_ln.find("{")
        if cut >= 0:
            sig.append(ln[:cut].rstrip())
            break
        sig.append(ln.rstrip())
        joined_code.append(code_ln)
        joined = " ".join(joined_code)
        if "(" not in joined:  # class-like decl, single line is complete
            break
        if joined.count("(") == joined.count(")"):
            break
    out = " ".join(s.strip() for s in sig if s.strip())
    return out[:300] or lines[i].strip()


def _brace_doc(lines: list[str], i: int) -> str | None:
    """Comment block immediately above line i (///, //, //! runs or a
    /* .. */ block), markers stripped; attribute/annotation lines
    between the doc and the declaration don't break adjacency."""
    j = i - 1
    while j >= 0 and _ATTR_LINE_RE.match(lines[j]):
        j -= 1
    if j < 0:
        return None
    stripped = lines[j].strip()
    out: list[str] = []
    if stripped.endswith("*/"):
        k = j
        while k >= 0 and "/*" not in lines[k]:
            k -= 1
        if k < 0:
            return None
        for raw in lines[k : j + 1]:
            s = raw.strip()
            s = re.sub(r"^/\*+\s?", "", s)
            s = re.sub(r"\s?\*+/$", "", s)
            s = re.sub(r"^\*\s?", "", s)
            out.append(s)
    else:
        while j >= 0 and lines[j].lstrip().startswith("//"):
            out.append(_LINE_DOC_RE.sub("", lines[j].lstrip()))
            j -= 1
        out.reverse()
    doc = "\n".join(out).strip()
    return doc or None


# Per-language comment styles for non-C-family doc extraction: line
# prefixes, and the delimiters of the (* … *) block family.  C-style
# (// + /* */ + attribute tolerance) stays in _brace_doc.
_DOC_LINE_STYLES: dict[str, tuple[str, ...]] = {
    "shell": ("#",), "powershell": ("#",), "perl": ("#",), "r": ("#",),
    "ruby": ("#",), "julia": ("#",), "elixir": ("#",), "nix": ("#",),
    "yaml": ("#",), "toml": ("#",),
    "lua": ("--",), "haskell": ("--",), "elm": ("--",), "sql": ("--",),
    "vbnet": ("'",), "erlang": ("%",), "fsharp": ("//",),
}
_DOC_BLOCK_STYLES: dict[str, tuple[str, str]] = {
    "ocaml": ("(*", "*)"), "fsharp": ("(*", "*)"),
    "structured_text": ("(*", "*)"),
}
# Lines that may sit between a doc comment and its declaration without
# breaking adjacency (the non-C analogue of _ATTR_LINE_RE).
_DOC_SKIP_RES: dict[str, re.Pattern] = {
    "erlang": re.compile(r"^-(?:spec|type)\b"),
}


def _comment_doc(lines: list[str], i: int, lang: str) -> str | None:
    """Comment block immediately above line i for languages whose doc
    comments are #/--/'/%-prefixed runs or an (* … *) block — markers
    stripped, same contract as _brace_doc (src/parser/types.rs:33-58:
    every language's chunk row carries ``doc``)."""
    prefixes = _DOC_LINE_STYLES.get(lang)
    block = _DOC_BLOCK_STYLES.get(lang)
    skip = _DOC_SKIP_RES.get(lang)
    j = i - 1
    while j >= 0 and skip is not None and skip.match(lines[j]):
        j -= 1
    if j < 0:
        return None
    out: list[str] = []
    stripped = lines[j].strip()
    if block and stripped.endswith(block[1]):
        k = j
        while k >= 0 and block[0] not in lines[k]:
            k -= 1
        if k < 0:
            return None
        for raw in lines[k : j + 1]:
            s = raw.strip()
            if s.startswith(block[0]):
                s = s[len(block[0]) :].lstrip("*").strip()
            if s.endswith(block[1]):
                s = s[: -len(block[1])].rstrip("*").strip()
            out.append(s)
    elif prefixes:
        def marker(line: str) -> str | None:
            st = line.lstrip()
            for p in prefixes:
                if st.startswith(p):
                    return p
            return None

        while j >= 0 and (p := marker(lines[j])) is not None:
            s = lines[j].lstrip()[len(p) :]
            # Collapse marker runs (###, ----, divider lines) and the
            # Haddock-style "-- |" doc marker.
            s = s.lstrip(p[-1]).strip()
            if s.startswith("|"):
                s = s[1:]
            out.append(s.strip())
            j -= 1
        out.reverse()
        # A shebang is not documentation ('#!…' strips to '!…').
        while out and out[0].startswith("!"):
            out.pop(0)
    else:
        return None
    doc = "\n".join(out).strip()
    return doc or None


def _doc_for(lines: list[str], i: int, lang: str) -> str | None:
    """Language-dispatched doc extraction: #/--/'/%/(*-style languages
    take _comment_doc; everything else the C-style _brace_doc."""
    if lang in _DOC_LINE_STYLES or lang in _DOC_BLOCK_STYLES:
        return _comment_doc(lines, i, lang)
    return _brace_doc(lines, i)


def chunk_braced(origin: str, text: str, lang: str) -> list[dict]:
    """Declarations in brace languages via lexically-aware brace counting.

    Class bodies are scanned INSIDE as well (Java/C# methods live in
    the class block): functions found within an enclosing class emit as
    "method" chunks carrying parent_type_name.  Each chunk carries the
    full multi-line ``signature`` and the preceding comment block as
    ``doc`` (src/parser/types.rs:33-58 contract).

    Precision (r4): a per-char lexer classifies CODE / STRING /
    COMMENT, so a brace inside a string literal (``printf("}")``) or a
    commented-out brace no longer corrupts block spans, and a
    declaration keyword inside a comment no longer emits a phantom
    chunk.  Declarations still match on RAW lines (HCL/CSS names live
    inside quotes); only the keyword-in-comment case suppresses a
    match.  This is the wheel-free step toward tree-sitter exactness.
    """
    lines = text.split("\n")
    decls = _BRACE_DECLS[lang]
    cls = _classify_lines(lines, lang)
    chunks: list[dict] = []
    cls_stack: list[tuple[str, int]] = []  # (name, end_line)
    i = 0

    def code_count(j: int, ch: str) -> int:
        if cls is None:
            return lines[j].count(ch)
        c = cls[j]
        return sum(
            1
            for k, x in enumerate(lines[j])
            if x == ch and k < len(c) and c[k] == _CODE
        )

    def block_end(start: int) -> int:
        depth, opened = 0, False
        for j in range(start, len(lines)):
            n_open = code_count(j, "{")
            depth += n_open - code_count(j, "}")
            if n_open:
                opened = True
            if opened and depth <= 0:
                return j + 1
        return len(lines) if opened else start + 1

    def in_noncode(j: int) -> bool:
        """True when line j's first non-space char sits inside a
        comment OR string — a decl keyword there is text, not code
        (template literals holding 'function fake() {' would otherwise
        emit a phantom chunk whose string-skipping block_end then
        swallows the NEXT real declaration)."""
        if cls is None:
            return False
        ln, c = lines[j], cls[j]
        for k, ch in enumerate(ln):
            if not ch.isspace():
                return k < len(c) and c[k] != _CODE
        return False

    while i < len(lines):
        while cls_stack and i >= cls_stack[-1][1]:
            cls_stack.pop()
        hit = None
        if not in_noncode(i):
            for rx, kind in decls:
                m = rx.match(lines[i])
                if m:
                    hit = (m.group("name"), kind)
                    break
        if not hit:
            i += 1
            continue
        name, kind = hit
        if lang == "objc" and kind == "class":
            # @interface/@implementation bodies close at @end, not a
            # brace — brace counting would adopt the FIRST method's
            # braces as the class block and every later method would
            # lose its parent.  The @end itself must be code, not a
            # commented-out line.
            end = next(
                (
                    j + 1
                    for j in range(i + 1, len(lines))
                    if lines[j].lstrip().startswith("@end")
                    and not in_noncode(j)
                ),
                block_end(i),
            )
        else:
            end = block_end(i)
        parent = cls_stack[-1][0] if cls_stack else None
        chunk_type = "method" if (kind == "function" and parent) else kind
        chunks.append(
            dict(
                origin=origin, language=lang, chunk_type=chunk_type, name=name,
                signature=_brace_signature(lines, i, end, cls),
                content="\n".join(lines[i:end]).rstrip(),
                doc=_doc_for(lines, i, lang),
                line_start=i + 1, line_end=end,
                parent_type_name=parent,
            )
        )
        if kind == "class":
            cls_stack.append((name, end))
            i += 1  # scan inside the class body
        else:
            i = end
    return chunks or chunk_text(origin, text)


def chunk_ruby(origin: str, text: str) -> list[dict]:
    """def/class/module blocks delimited by a same-indent ``end``.

    Methods inside a class/module body emit as "method" chunks carrying
    parent_type_name (one indent deeper, same granularity as the
    Python chunker).
    """
    lines = text.split("\n")
    chunks: list[dict] = []

    def block_end(start: int, indent: str) -> int:
        closer = indent + "end"
        for j in range(start + 1, len(lines)):
            if lines[j].rstrip() == closer:
                return j + 1
        return min(start + 1, len(lines))

    def scan(lo: int, hi: int, indent: str, parent: str | None) -> None:
        i = lo
        while i < hi:
            m = _RUBY_DECL_RE.match(lines[i])
            if not m or m.group("indent") != indent:
                i += 1
                continue
            kw, name = m.group("kw"), m.group("name").removeprefix("self.")
            end = block_end(i, indent)
            kind = "function" if kw == "def" else "class"
            chunk_type = "method" if (kind == "function" and parent) else kind
            chunks.append(
                dict(
                    origin=origin, language="ruby", chunk_type=chunk_type,
                    name=name, signature=lines[i].strip(),
                    content="\n".join(lines[i:end]).rstrip(),
                    doc=_comment_doc(lines, i, "ruby"),
                    line_start=i + 1, line_end=end,
                    parent_type_name=parent,
                )
            )
            if kind == "class":
                scan(i + 1, end - 1, indent + "  ", name)
            i = end
    scan(0, len(lines), "", None)
    return chunks or chunk_text(origin, text)


# Keyword-END block languages: an opener regex (groups indent/kw/name)
# and a per-keyword (chunk_kind, closer) table.  closer=None means a bare
# same-indent ``end`` (the Ruby rule); otherwise the block ends at the
# first line whose stripped lowercase text starts with the closer.
# Reference grammars: src/language/languages.rs (lua, julia, elixir,
# vbnet, structured_text entries); regex approximation per SURVEY §2.1.
_END_BLOCK_LANGS: dict[str, tuple[re.Pattern, dict[str, tuple[str, str | None]]]] = {
    "lua": (
        re.compile(r"^(?P<indent>\s*)(?:local\s+)?(?P<kw>function)\s+(?P<name>[\w.:]+)"),
        {"function": ("function", None)},
    ),
    "julia": (
        re.compile(
            r"^(?P<indent>\s*)(?P<kw>function|macro|module|baremodule|mutable struct|struct)\s+"
            r"(?P<name>[\w!.]+)"
        ),
        {
            "function": ("function", None), "macro": ("function", None),
            "module": ("class", None), "baremodule": ("class", None),
            "struct": ("class", None), "mutable struct": ("class", None),
        },
    ),
    "elixir": (
        re.compile(
            r"^(?P<indent>\s*)(?P<kw>defmodule|defprotocol|defimpl|defmacrop?|defp?)\s+"
            r"(?P<name>[\w.!?]+)"
        ),
        {
            "defmodule": ("class", None), "defprotocol": ("class", None),
            "defimpl": ("class", None), "def": ("function", None),
            "defp": ("function", None), "defmacro": ("function", None),
            "defmacrop": ("function", None),
        },
    ),
    "vbnet": (
        re.compile(
            r"^(?P<indent>\s*)(?:Public\s+|Private\s+|Protected\s+|Friend\s+|Shared\s+|Partial\s+|Overrides\s+)*"
            r"(?P<kw>Sub|Function|Class|Module|Structure|Interface)\s+(?P<name>\w+)",
            re.IGNORECASE,
        ),
        {
            "sub": ("function", "end sub"), "function": ("function", "end function"),
            "class": ("class", "end class"), "module": ("class", "end module"),
            "structure": ("class", "end structure"),
            "interface": ("class", "end interface"),
        },
    ),
    "structured_text": (
        re.compile(
            r"^(?P<indent>\s*)(?P<kw>FUNCTION_BLOCK|FUNCTION|PROGRAM|TYPE)\s+(?P<name>\w+)",
            re.IGNORECASE,
        ),
        {
            "function_block": ("class", "end_function_block"),
            "function": ("function", "end_function"),
            "program": ("function", "end_program"),
            "type": ("class", "end_type"),
        },
    ),
}


def chunk_end_block(origin: str, text: str, lang: str) -> list[dict]:
    """Blocks closed by an ``end``-style keyword (Lua / Julia / Elixir /
    VB.NET / IEC-61131 Structured Text), same granularity as chunk_ruby:
    nested functions inside a class-kind block emit as methods."""
    decl_re, kinds = _END_BLOCK_LANGS[lang]
    lines = text.split("\n")
    chunks: list[dict] = []

    def block_end(start: int, indent: str, closer: str | None) -> int:
        if closer is None:
            target = indent + "end"
            for j in range(start + 1, len(lines)):
                bare = lines[j].rstrip()
                if bare == target or bare.startswith(target + " "):
                    return j + 1
        else:
            for j in range(start + 1, len(lines)):
                if lines[j].strip().lower().startswith(closer):
                    return j + 1
        return start + 1

    def scan(lo: int, hi: int, parent: str | None) -> None:
        i = lo
        while i < hi:
            m = decl_re.match(lines[i])
            if not m:
                i += 1
                continue
            kw = m.group("kw").lower()
            kind, closer = kinds[kw]
            name = m.group("name").split(".")[-1] if lang == "elixir" else m.group("name")
            end = block_end(i, m.group("indent"), closer)
            chunk_type = "method" if (kind == "function" and parent) else kind
            chunks.append(
                dict(
                    origin=origin, language=lang, chunk_type=chunk_type,
                    name=name, signature=lines[i].strip(),
                    content="\n".join(lines[i:end]).rstrip(),
                    doc=_comment_doc(lines, i, lang),
                    line_start=i + 1, line_end=end,
                    parent_type_name=parent,
                )
            )
            if kind == "class":
                scan(i + 1, end - 1, name)
            i = end

    scan(0, len(lines), None)
    return chunks or chunk_text(origin, text)


# Top-level-binding languages: definitions start at column 0 and extend
# to the next column-0 definition (Haskell / Elm / OCaml / F# / Erlang /
# Nix).  Adjacent same-name hits merge (type signature + equations,
# multi-clause Erlang functions).
_TOPLEVEL_DECLS: dict[str, list[tuple[re.Pattern, str]]] = {
    "haskell": [
        (re.compile(r"^(?:data|newtype|type|class|instance)\s+(?:\([^)]*\)\s*=>\s*)?(?P<name>\w[\w']*)"), "class"),
        (re.compile(r"^(?P<name>[a-z_][\w']*)\s*(?:::|.*=)"), "function"),
    ],
    "elm": [
        (re.compile(r"^(?:type\s+alias|type|port\s+module|module)\s+(?P<name>\w+)"), "class"),
        (re.compile(r"^(?P<name>[a-z_]\w*)\s*(?::|.*=)"), "function"),
    ],
    "ocaml": [
        (re.compile(r"^(?:module|module\s+type)\s+(?P<name>\w+)"), "class"),
        (re.compile(r"^type\s+(?:[\w'\s,()]+\s+)?(?P<name>\w+)\s*="), "class"),
        (re.compile(r"^let\s+(?:rec\s+)?(?P<name>[\w']+)"), "function"),
    ],
    "fsharp": [
        (re.compile(r"^\s*(?:module|namespace)\s+(?:rec\s+)?(?P<name>[\w.]+)"), "class"),
        (re.compile(r"^\s*type\s+(?P<name>\w+)"), "class"),
        (re.compile(r"^\s*let\s+(?:rec\s+|inline\s+|private\s+)*(?P<name>[\w']+)"), "function"),
    ],
    "erlang": [
        (re.compile(r"^-(?P<name>module|behaviou?r|record|export|define)\b"), "config"),
        (re.compile(r"^(?P<name>[a-z]\w*)\s*\("), "function"),
    ],
    "nix": [
        (re.compile(r"^\s{0,2}(?P<name>[\w.-]+)\s*="), "config"),
    ],
}


def chunk_toplevel(origin: str, text: str, lang: str) -> list[dict]:
    """Column-0 definition chunks for declaration-sequence languages."""
    decls = _TOPLEVEL_DECLS[lang]
    lines = text.split("\n")
    hits: list[tuple[int, str, str]] = []  # (line, name, kind)
    for i, line in enumerate(lines):
        for rx, kind in decls:
            m = rx.match(line)
            if m:
                hits.append((i, m.group("name"), kind))
                break
    if not hits:
        return chunk_text(origin, text)
    # Merge adjacent same-name hits (sig + equations, multi-clause fns).
    merged: list[tuple[int, str, str]] = []
    for h in hits:
        if merged and merged[-1][1] == h[1]:
            continue
        merged.append(h)
    chunks = []
    bounds = [h[0] for h in merged] + [len(lines)]
    for (start, name, kind), end in zip(merged, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language=lang, chunk_type=kind, name=name,
                signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(),
                doc=_comment_doc(lines, start, lang),
                line_start=start + 1, line_end=end,
            )
        )
    return chunks


def chunk_yaml(origin: str, text: str) -> list[dict]:
    """One config chunk per top-level key (column-0 mapping entries)."""
    lines = text.split("\n")
    keys = [
        (i, m.group("name"))
        for i, line in enumerate(lines)
        if (m := _YAML_KEY_RE.match(line))
    ]
    if not keys:
        return chunk_text(origin, text)
    chunks = []
    bounds = [k[0] for k in keys] + [len(lines)]
    for (start, name), end in zip(keys, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="yaml", chunk_type="config",
                name=name, signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(),
                doc=_comment_doc(lines, start, "yaml"),
                line_start=start + 1, line_end=end,
            )
        )
    return chunks


def chunk_toml(origin: str, text: str) -> list[dict]:
    """One config chunk per [section] / [[array-of-tables]] header; the
    pre-section preamble (bare keys) becomes a chunk named after the file."""
    lines = text.split("\n")
    sections = [
        (i, m.group("name").strip())
        for i, line in enumerate(lines)
        if (m := _TOML_SECTION_RE.match(line))
    ]
    chunks: list[dict] = []
    pre_end = sections[0][0] if sections else len(lines)
    pre = "\n".join(lines[:pre_end]).strip()
    if pre:
        chunks.append(
            dict(
                origin=origin, language="toml", chunk_type="config",
                name=origin.rsplit("/", 1)[-1], signature=None, content=pre,
                doc=None, line_start=1, line_end=pre_end,
            )
        )
    bounds = [s[0] for s in sections] + [len(lines)]
    for (start, name), end in zip(sections, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="toml", chunk_type="config",
                name=name, signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(),
                doc=_comment_doc(lines, start, "toml"),
                line_start=start + 1, line_end=end,
            )
        )
    return chunks or chunk_text(origin, text)


def chunk_sql(origin: str, text: str) -> list[dict]:
    """One chunk per CREATE statement (statements end at ';')."""
    lines = text.split("\n")
    chunks: list[dict] = []
    i = 0
    while i < len(lines):
        m = _SQL_DECL_RE.match(lines[i])
        if not m:
            i += 1
            continue
        end = i
        while end < len(lines) and ";" not in lines[end]:
            end += 1
        end = min(end + 1, len(lines))
        chunks.append(
            dict(
                origin=origin, language="sql", chunk_type="config",
                name=m.group("name").strip('"'), signature=lines[i].strip(),
                content="\n".join(lines[i:end]).rstrip(),
                doc=_comment_doc(lines, i, "sql"),
                line_start=i + 1, line_end=end,
            )
        )
        i = end
    return chunks or chunk_text(origin, text)


_ASPX_SCRIPT_RE = re.compile(
    r"(?is)<script[^>]*runat\s*=\s*[\"']server[\"'][^>]*>(.*?)</script>"
)
_ASPX_CODEBLOCK_RE = re.compile(r"(?s)<%[^@=:].*?%>")
_ASPX_DIRECTIVE_RE = re.compile(r"(?i)<%@\s*(\w+)([^%]*)%>")


def chunk_l5x(origin: str, text: str) -> list[dict]:
    """Rockwell L5X (PLC project XML): one chunk per routine.

    Reference shape (src/parser/l5x.rs:143 parse_st_regions): Programs
    contain Routines; ST routines chunk their Structured Text lines,
    RLL routines chunk their rung texts; parent_type_name carries the
    program name (l5x.rs:339).  stdlib XML here instead of the
    reference's regex+tree-sitter-injection pipeline — same rows out.
    """
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError:
        return chunk_text(origin, text)
    chunks: list[dict] = []

    def line_of(needle: str) -> int:
        pos = text.find(needle)
        return text.count("\n", 0, pos) + 1 if pos >= 0 else 1

    for prog in root.iter("Program"):
        pname = prog.get("Name")
        for routine in prog.iter("Routine"):
            rname = routine.get("Name")
            rtype = (routine.get("Type") or "").upper()
            if not rname:
                continue
            if rtype == "ST":
                lines = [
                    (ln.text or "").strip()
                    for ln in routine.iter("Line")
                ]
                body = "\n".join(x for x in lines if x)
            else:  # RLL ladder: rung comments + texts
                parts = []
                for rung in routine.iter("Rung"):
                    for tag in ("Comment", "Text"):
                        el = rung.find(tag)
                        if el is not None and el.text:
                            parts.append(el.text.strip())
                body = "\n".join(parts)
            if not body:
                continue
            start = line_of(f'Routine Name="{rname}"')
            chunks.append(
                dict(
                    origin=origin, language="l5x", chunk_type="function",
                    name=rname, signature=f'Routine {rname} Type={rtype or "?"}',
                    content=body, doc=None,
                    line_start=start,
                    line_end=start + body.count("\n"),
                    parent_type_name=pname,
                )
            )
    # Add-On Instructions are reusable blocks — class-level granularity.
    for aoi in root.iter("AddOnInstructionDefinition"):
        name = aoi.get("Name")
        if not name:
            continue
        lines = [(ln.text or "").strip() for ln in aoi.iter("Line")]
        body = "\n".join(x for x in lines if x)
        if body:
            start = line_of(f'AddOnInstructionDefinition Name="{name}"')
            chunks.append(
                dict(
                    origin=origin, language="l5x", chunk_type="class",
                    name=name, signature=f"AddOnInstruction {name}",
                    content=body, doc=None,
                    line_start=start, line_end=start + body.count("\n"),
                )
            )
    return chunks or chunk_text(origin, text)


def chunk_aspx(origin: str, text: str) -> list[dict]:
    """ASPX dual-grammar: server-side code chunks + a markup doc chunk.

    Reference shape (src/parser/aspx.rs): the file is two languages —
    ``<script runat="server">`` / ``<% %>`` code-behind regions parse
    with the C# grammar, the remaining markup is one doc chunk.  Here
    the extracted C# regions run through the existing brace chunker.
    """
    chunks: list[dict] = []
    for m in _ASPX_SCRIPT_RE.finditer(text):
        code = m.group(1)
        offset = text.count("\n", 0, m.start(1))
        for c in chunk_braced(origin, code, "csharp"):
            if c["chunk_type"] == "doc":
                continue
            c["language"] = "aspx"
            c["line_start"] += offset
            c["line_end"] += offset
            chunks.append(c)
    inline = [m.group(0) for m in _ASPX_CODEBLOCK_RE.finditer(text)]
    if inline:
        chunks.append(
            dict(
                origin=origin, language="aspx", chunk_type="function",
                name="__inline_code__", signature=None,
                content="\n".join(inline), doc=None,
                line_start=1, line_end=text.count("\n") + 1,
            )
        )
    markup = _ASPX_SCRIPT_RE.sub(" ", _ASPX_CODEBLOCK_RE.sub(" ", text))
    page = _ASPX_DIRECTIVE_RE.search(text)
    body = html_like = markup.strip()
    if html_like:
        chunks.append(
            dict(
                origin=origin, language="aspx", chunk_type="doc",
                name=origin.rsplit("/", 1)[-1],
                signature=page.group(0)[:200] if page else None,
                content=body, doc=None,
                line_start=1, line_end=text.count("\n") + 1,
            )
        )
    return chunks or chunk_text(origin, text)


_HTML_SCRIPT_RE = re.compile(r"(?is)<script[^>]*>(.*?)</script>")
_HTML_HEADING_RE = re.compile(r"(?i)<h([1-6])[^>]*>(.*?)</h\1>")
_TAG_STRIP_RE = re.compile(r"<[^>]+>")


def chunk_html(origin: str, text: str, lang: str = "html") -> list[dict]:
    """HTML dual-grammar, ASPX-style: ``<script>`` bodies chunk with the
    JS grammar; the markup itself sections on h1–h6 headings (the
    Markdown rule applied to rendered structure)."""
    chunks: list[dict] = []
    for m in _HTML_SCRIPT_RE.finditer(text):
        code = m.group(1)
        if not code.strip():
            continue
        offset = text.count("\n", 0, m.start(1))
        inner = chunk_braced(origin, code, "javascript")
        for c in inner:
            if c["chunk_type"] == "doc":
                c["chunk_type"] = "function"
                c["name"] = "__script__"
            c["language"] = lang
            c["line_start"] += offset
            c["line_end"] += offset
            chunks.append(c)
    # Strip scripts with a newline-preserving replacement so line numbers
    # computed in ``markup`` agree with line numbers in ``text`` (a plain
    # sub() collapses multi-line script bodies and every later heading
    # would slice the wrong lines).
    markup = _HTML_SCRIPT_RE.sub(lambda m: "\n" * m.group(0).count("\n"), text)
    heads = [
        (markup.count("\n", 0, m.start()), _TAG_STRIP_RE.sub("", m.group(2)).strip())
        for m in _HTML_HEADING_RE.finditer(markup)
    ]
    # Slice section content from ``markup`` (same line layout as the
    # file, script bodies blanked) so code already chunked under the JS
    # grammar is not duplicated into doc chunks; line spans still refer
    # to the original file.
    lines = markup.split("\n")
    if heads:
        bounds = [h[0] for h in heads] + [len(lines)]
        for (start, name), end in zip(heads, bounds[1:]):
            chunks.append(
                dict(
                    origin=origin, language=lang, chunk_type="doc",
                    name=name or origin.rsplit("/", 1)[-1],
                    signature=None,
                    content="\n".join(lines[start:end]).rstrip(), doc=None,
                    line_start=start + 1, line_end=end,
                )
            )
    elif markup.strip():
        chunks.append(
            dict(
                origin=origin, language=lang, chunk_type="doc",
                name=origin.rsplit("/", 1)[-1], signature=None,
                content=markup.strip(), doc=None,
                line_start=1, line_end=len(lines),
            )
        )
    return chunks or chunk_text(origin, text)


def chunk_xml(origin: str, text: str) -> list[dict]:
    """Generic XML: one chunk per direct child of the document element,
    named by its name/id attribute (or tag).  L5X gets its dedicated
    routine-level parser; this covers xsd/xslt/wsdl/plist/svg/rss."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError:
        return chunk_text(origin, text)
    chunks: list[dict] = []

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    search_pos = 0  # moving cursor: repeated sibling tags advance past
    for child in root:
        if not isinstance(child.tag, str):
            continue
        body = ET.tostring(child, encoding="unicode").strip()
        if not body:
            continue
        name = child.get("name") or child.get("id") or local(child.tag)
        # Locate the child's open tag: optional ns prefix, exact local
        # name bounded by whitespace/'>'/'/' (so <item> never matches
        # <items>), searched from past the previous sibling's start.
        tag_re = re.compile(
            r"<(?:[\w.-]+:)?" + re.escape(local(child.tag)) + r"(?=[\s/>])"
        )
        m = tag_re.search(text, search_pos)
        if m:
            search_pos = m.start() + 1
            start = text.count("\n", 0, m.start()) + 1
        else:
            start = 1
        chunks.append(
            dict(
                origin=origin, language="xml", chunk_type="config",
                name=name, signature=f"<{local(child.tag)}>",
                content=body, doc=None,
                line_start=start, line_end=start + body.count("\n"),
                parent_type_name=local(root.tag),
            )
        )
    return chunks or chunk_text(origin, text)


_LATEX_SECTION_RE = re.compile(
    r"^\\(?P<level>part|chapter|section|subsection|subsubsection)\*?\{(?P<name>[^}]*)\}"
)


def chunk_latex(origin: str, text: str) -> list[dict]:
    """LaTeX: one doc chunk per sectioning command (the Markdown rule)."""
    lines = text.split("\n")
    heads = [
        (i, m.group("name"))
        for i, line in enumerate(lines)
        if (m := _LATEX_SECTION_RE.match(line))
    ]
    if not heads:
        return chunk_text(origin, text)
    chunks = []
    bounds = [h[0] for h in heads] + [len(lines)]
    for (start, name), end in zip(heads, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="latex", chunk_type="doc",
                name=name, signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(), doc=None,
                line_start=start + 1, line_end=end,
            )
        )
    return chunks


_INI_SECTION_RE = re.compile(r"^\[(?P<name>[^\]]+)\]\s*(?:[#;].*)?$")


def chunk_ini(origin: str, text: str) -> list[dict]:
    """INI / .cfg: one config chunk per [section] (the TOML rule)."""
    lines = text.split("\n")
    sections = [
        (i, m.group("name").strip())
        for i, line in enumerate(lines)
        if (m := _INI_SECTION_RE.match(line))
    ]
    if not sections:
        return chunk_text(origin, text)
    chunks: list[dict] = []
    pre_end = sections[0][0]
    pre = "\n".join(lines[:pre_end]).strip()
    if pre:
        chunks.append(
            dict(
                origin=origin, language="ini", chunk_type="config",
                name=origin.rsplit("/", 1)[-1], signature=None, content=pre,
                doc=None, line_start=1, line_end=pre_end,
            )
        )
    bounds = [s[0] for s in sections] + [len(lines)]
    for (start, name), end in zip(sections, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="ini", chunk_type="config",
                name=name, signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(), doc=None,
                line_start=start + 1, line_end=end,
            )
        )
    return chunks


_JSON_TOP_KEY_RE = re.compile(r'^\s{0,4}"(?P<name>[^"]+)"\s*:')


def chunk_json(origin: str, text: str) -> list[dict]:
    """JSON: one config chunk per top-level object key.

    Depth-tracked line scan (not json.loads) so jsonc comments and
    trailing commas don't break chunking; falls back to one doc chunk
    for arrays/scalars."""
    lines = text.split("\n")
    depth = 0
    keys: list[tuple[int, str]] = []
    for i, line in enumerate(lines):
        if depth == 1 and (m := _JSON_TOP_KEY_RE.match(line)):
            keys.append((i, m.group("name")))
        # Count structural braces only approximately: strings with braces
        # inside values can miscount — acceptable for a chunk boundary.
        depth += line.count("{") + line.count("[") - line.count("}") - line.count("]")
    if not keys:
        return chunk_text(origin, text)
    chunks = []
    bounds = [k[0] for k in keys] + [len(lines) - 1]
    for (start, name), end in zip(keys, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="json", chunk_type="config",
                name=name, signature=None,
                content="\n".join(lines[start:end]).rstrip().rstrip(","),
                doc=None, line_start=start + 1, line_end=end,
            )
        )
    return chunks


_MAKE_TARGET_RE = re.compile(r"^(?P<name>[^\s:=#][^:=]*?)\s*:(?!=)")


def chunk_make(origin: str, text: str) -> list[dict]:
    """Makefiles: one chunk per rule (target: prereqs + recipe lines)."""
    lines = text.split("\n")
    targets = [
        (i, m.group("name").strip())
        for i, line in enumerate(lines)
        if (m := _MAKE_TARGET_RE.match(line))
    ]
    if not targets:
        return chunk_text(origin, text)
    chunks = []
    bounds = [t[0] for t in targets] + [len(lines)]
    for (start, name), end in zip(targets, bounds[1:]):
        chunks.append(
            dict(
                origin=origin, language="make", chunk_type="function",
                name=name, signature=lines[start].strip(),
                content="\n".join(lines[start:end]).rstrip(), doc=None,
                line_start=start + 1, line_end=end,
            )
        )
    return chunks


_SFC_BLOCK_RE = re.compile(
    r"(?is)<(?P<tag>template|script|style)[^>]*>(?P<body>.*?)</(?P=tag)>"
)


def chunk_sfc(origin: str, text: str, lang: str) -> list[dict]:
    """Vue / Svelte single-file components: the <script> block chunks
    with the JS grammar (methods keep the component as parent); the
    <template> and <style> blocks are one chunk each."""
    comp = origin.rsplit("/", 1)[-1].rsplit(".", 1)[0]
    chunks: list[dict] = []
    for m in _SFC_BLOCK_RE.finditer(text):
        tag, body = m.group("tag").lower(), m.group("body")
        if not body.strip():
            continue
        offset = text.count("\n", 0, m.start("body"))
        if tag == "script":
            inner = chunk_braced(origin, body, "javascript")
            for c in inner:
                if c["chunk_type"] == "doc":
                    c["chunk_type"] = "function"
                    c["name"] = "__script__"
                c["language"] = lang
                c["parent_type_name"] = comp
                c["line_start"] += offset
                c["line_end"] += offset
                chunks.append(c)
        else:
            chunks.append(
                dict(
                    origin=origin, language=lang,
                    chunk_type="doc" if tag == "template" else "config",
                    name=f"{comp}.{tag}", signature=None,
                    content=body.strip(), doc=None,
                    line_start=offset + 1,
                    line_end=offset + 1 + body.count("\n"),
                    parent_type_name=comp,
                )
            )
    return chunks or chunk_text(origin, text)


_RAZOR_CODE_RE = re.compile(r"(?is)@(?:functions|code)\s*\{")


def chunk_razor(origin: str, text: str) -> list[dict]:
    """Razor / Blazor: @functions / @code blocks chunk with the C#
    grammar; the remaining markup is one doc chunk (the ASPX rule)."""
    chunks: list[dict] = []
    spans: list[tuple[int, int]] = []
    for m in _RAZOR_CODE_RE.finditer(text):
        depth, j = 0, m.end() - 1
        while j < len(text):
            if text[j] == "{":
                depth += 1
            elif text[j] == "}":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        spans.append((m.end(), j))
    for lo, hi in spans:
        code = text[lo:hi]
        offset = text.count("\n", 0, lo)
        for c in chunk_braced(origin, code, "csharp"):
            if c["chunk_type"] == "doc":
                continue
            c["language"] = "razor"
            c["line_start"] += offset
            c["line_end"] += offset
            chunks.append(c)
    markup = text
    for lo, hi in reversed(spans):
        start = markup.rfind("@", 0, lo)
        markup = markup[: start if start >= 0 else lo] + markup[hi + 1:]
    if markup.strip():
        chunks.append(
            dict(
                origin=origin, language="razor", chunk_type="doc",
                name=origin.rsplit("/", 1)[-1], signature=None,
                content=markup.strip(), doc=None,
                line_start=1, line_end=text.count("\n") + 1,
            )
        )
    return chunks or chunk_text(origin, text)


def chunk_text(origin: str, text: str) -> list[dict]:
    body = text.strip()
    if not body:
        return []
    return [
        dict(
            origin=origin, language=language_for(origin), chunk_type="doc",
            name=origin.rsplit("/", 1)[-1], signature=None, content=body,
            doc=None, line_start=1, line_end=text.count("\n") + 1,
        )
    ]


def chunk_file(origin: str, text: str) -> list[dict]:
    lang = language_for(origin)
    if lang == "python":
        return chunk_python(origin, text)
    if lang == "markdown":
        return chunk_markdown(origin, text)
    if lang in _BRACE_DECLS:
        return chunk_braced(origin, text, lang)
    if lang == "sql":
        return chunk_sql(origin, text)
    if lang == "ruby":
        return chunk_ruby(origin, text)
    if lang == "yaml":
        return chunk_yaml(origin, text)
    if lang == "toml":
        return chunk_toml(origin, text)
    if lang == "l5x":
        return chunk_l5x(origin, text)
    if lang == "aspx":
        return chunk_aspx(origin, text)
    if lang in _END_BLOCK_LANGS:
        return chunk_end_block(origin, text, lang)
    if lang in _TOPLEVEL_DECLS:
        return chunk_toplevel(origin, text, lang)
    if lang == "html":
        return chunk_html(origin, text)
    if lang == "xml":
        return chunk_xml(origin, text)
    if lang == "latex":
        return chunk_latex(origin, text)
    if lang == "ini":
        return chunk_ini(origin, text)
    if lang == "json":
        return chunk_json(origin, text)
    if lang == "make":
        return chunk_make(origin, text)
    if lang in ("vue", "svelte"):
        return chunk_sfc(origin, text, lang)
    if lang == "razor":
        return chunk_razor(origin, text)
    return chunk_text(origin, text)


def parse_files(files: DataFrame) -> DataFrame:
    """binaryFile listing → chunk rows via Arrow-batched mapInPandas.

    Input: ``spark.read.format("binaryFile")`` columns (path, content).
    One task per file partition; the chunker is pure Python per batch —
    model/parser initialization (when tree-sitter is present) happens
    once per worker process, not per row.
    """
    cols = CHUNK_PARSE_SCHEMA.fieldNames()

    def row(path, blob):
        text = bytes(blob).decode("utf-8", errors="replace")
        # Chunkers omit optional keys (parent_type_name, doc): a
        # missing key is a NULL cell.
        for c in chunk_file(path, text):
            yield tuple(c.get(k) for k in cols)

    return map_rows(files, ["path", "content"], row, CHUNK_PARSE_SCHEMA)
