"""Single-process reference extractor -> golden fixtures (SURVEY.md §7.2 M0).

Runs the SAME kernels as the Spark job, in plain pandas, defining the
golden truth the Spark output must match byte-for-byte (FIXTURES.md §2).
This mirrors how exstruct freezes documentation-grade goldens next to its
sample inputs (``sample/*/sample.json``, SURVEY.md §5).
"""

from __future__ import annotations

import pandas as pd

from exstruct_spark.config import ExtractOptions
from exstruct_spark.kernels.extract import extract_document

EXTRACT_SCHEMA_DDL = (
    "url string, status string, fallback_reason string, main_text string, "
    "extraction_json string, text_sha256 string, json_sha256 string, "
    "n_tables int, n_shapes int, n_arrows int, n_charts int, n_lists int, "
    "n_links int, bytes_in bigint, truncated boolean"
)
GOLDEN_COLUMNS = [f.split()[0] for f in EXTRACT_SCHEMA_DDL.split(", ")]


def extract_pdf(pdf: pd.DataFrame, opts: ExtractOptions = ExtractOptions()) -> pd.DataFrame:
    """pandas-in/pandas-out extraction batch kernel.

    This exact function body runs inside the Spark ``mapInPandas`` stage;
    calling it directly on a pandas frame is the reference extractor.
    """
    # corpus-joined stylesheet texts (engine.attach_external_css): per-row
    # list of sheet strings in link order, None when the page linked no
    # sheet present in the corpus
    ext_css = (pdf["external_css"].tolist() if "external_css" in pdf.columns
               else [None] * len(pdf))
    records = [
        extract_document(url, html, opts, external_css=ext)
        for url, html, ext in zip(pdf["url"].tolist(), pdf["html"].tolist(),
                                  ext_css)
    ]
    return pd.DataFrame(records, columns=GOLDEN_COLUMNS)


def reference_extract_frame(
    pages_pdf: pd.DataFrame, opts: ExtractOptions = ExtractOptions()
) -> pd.DataFrame:
    """Golden fixture frame for a pages frame, sorted by url."""
    out = extract_pdf(pages_pdf, opts)
    return out.sort_values("url").reset_index(drop=True)
