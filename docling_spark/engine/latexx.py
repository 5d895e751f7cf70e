"""LaTeX payload → item table.

Full re-expression of the reference LaTeX backend
(docling/backend/latex/ — pylatexenc walker + handler mixins, ~2.4k
LoC) on top of this repo's from-scratch node parser/walker in
``texwalk``.  Byte-exact against ALL of the reference's groundtruth
corpus (tests/data/latex/groundtruth): both example fixtures and all
six real arXiv papers (1706.03762, 2305.03393, 2310.06825,
2412.19437, 2501.00089, arXiv-2501.01300v2) in BOTH markdown and
itxt export — see tests/test_latexx_groundtruth.py.

Multi-file arXiv sources arrive as zip archives: the main file
(\\documentclass + \\begin{document}) is located and its
\\input/\\include tree resolves from the member map during the walk
(the reference resolves from the filesystem with the same circular
guard and depth limit 10, handlers/macros.py:368-399).
"""

from __future__ import annotations

from docling_spark.engine.htmlx import Item, result
from docling_spark.engine.texwalk import walk_latex


class LatexError(ValueError):
    pass


def extract_latex(payload: str, files: dict[str, str] | None = None
                  ) -> tuple[str, list[Item], dict]:
    """payload (LaTeX source) → (extracted_text, items, metrics)."""
    if "\\begin{document}" not in payload:
        raise LatexError("no \\begin{document} found")
    try:
        items = walk_latex(payload, files)
    except RecursionError as exc:
        raise LatexError(f"nesting too deep: {exc}") from exc
    return result(items)


def extract_latex_archive(payload: bytes) -> tuple[str, list[Item], dict]:
    """Zip of a tex tree (arXiv-style multi-file source) → item table:
    the main file (\\documentclass + \\begin{document}) is located and
    extracted with the member map available for \\input resolution."""
    import io
    import zipfile

    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise LatexError(f"not a zip archive: {exc}") from exc
    files: dict[str, str] = {}
    for name in zf.namelist():
        if name.endswith((".tex", ".sty", ".bbl", ".cls")) and \
                not name.endswith("/"):
            text = zf.read(name).decode("utf-8", errors="replace")
            files.setdefault(name, text)
            files.setdefault(name.rsplit("/", 1)[-1], text)
    main = next(
        (t for n, t in files.items() if n.endswith(".tex")
         and "\\begin{document}" in t and "\\documentclass" in t),
        None,
    )
    if main is None:
        raise LatexError("archive holds no main .tex file")
    return extract_latex(main, files)
