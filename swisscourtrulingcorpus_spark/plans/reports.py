"""Report computations (SURVEY.md A10–A13; `scrc/dataset_creation/
report_creator.py`).

The reference renders plots/CSVs per dataset; the expensive part — the
aggregations — is what matters at scale, so each report here is a
DataFrame program returning the report table.  Rendering (matplotlib /
xlsx, S12) happens driver-side on these already-tiny outputs and is
gated behind import-try since plotting libs may be absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.operators.relational import value_counts_with_pct

# `dataset_creator.py:956` token-count bucket boundaries
TOKEN_BUCKETS = [0, 512, 1024, 2048, 4096, 8192]


def attribute_distribution(df: DataFrame, attr: str) -> DataFrame:
    """A10 plot_attribute (`report_creator.py:126-163`): histogram +
    percent-of-total for a categorical attribute."""
    return value_counts_with_pct(df, attr)


def input_length_stats(
    df: DataFrame, length_col: str, clip_at: int = 4000
) -> DataFrame:
    """A11 input-length describe() (`report_creator.py:66-112`):
    count/mean/min/quartiles/max, lengths clipped for the plot range."""
    clipped = F.least(F.col(length_col), F.lit(clip_at))
    return df.agg(
        F.count(F.lit(1)).alias("count"),
        F.avg(clipped).alias("mean"),
        F.min(clipped).alias("min"),
        F.expr(f"percentile(least({length_col}, {clip_at}), 0.25)").alias("p25"),
        F.expr(f"percentile(least({length_col}, {clip_at}), 0.5)").alias("p50"),
        F.expr(f"percentile(least({length_col}, {clip_at}), 0.75)").alias("p75"),
        F.max(clipped).alias("max"),
    )


def token_bucket_histogram(df: DataFrame, tokens_col: str) -> DataFrame:
    """A13 num_tokens bucketing (`dataset_creator.py:955-961`): counts
    per [0,512,1024,2048,4096,8192] bucket."""
    bucket = F.lit(len(TOKEN_BUCKETS) - 1)
    for i in range(len(TOKEN_BUCKETS) - 1, 0, -1):
        bucket = F.when(F.col(tokens_col) < TOKEN_BUCKETS[i], i - 1).otherwise(bucket)
    labels = [
        f"[{TOKEN_BUCKETS[i]},{TOKEN_BUCKETS[i + 1]})"
        for i in range(len(TOKEN_BUCKETS) - 1)
    ] + [f">={TOKEN_BUCKETS[-1]}"]
    label_map = F.array(*[F.lit(x) for x in labels])
    return (
        # nulls would fall through the when-chain into the top bucket —
        # they mean "not tokenized", not "huge"; exclude them
        df.where(F.col(tokens_col).isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.element_at(label_map, F.col("bucket") + 1).alias("bucket_range"),
            "cnt",
        )
    )


def export_report_excel(report: DataFrame, path: str, sheet: str = "report") -> bool:
    """S12 Excel sink (`pattern_extractor.py:220-229`): driver-side
    render of an already-aggregated (tiny) report.  Writes a real .xlsx
    via the stdlib OOXML writer (`sources/ooxml.py`) — no openpyxl
    needed; pandas' writer is preferred when a third-party engine IS
    installed (richer typing), the stdlib render is the fallback."""
    pdf = report.toPandas()
    try:
        pdf.to_excel(path, sheet_name=sheet, index=False)
        return True
    except (ImportError, ModuleNotFoundError, ValueError):
        from swisscourtrulingcorpus_spark.sources.ooxml import write_xlsx

        rows = [
            [None if (isinstance(v, float) and v != v) else v for v in row]
            for row in pdf.itertuples(index=False)
        ]
        write_xlsx(path, [str(c) for c in pdf.columns], rows, sheet=sheet)
        return True


def export_verification_docs(
    tables: dict[str, DataFrame],
    out_dir: str,
    n: int = 50,
    seed_salt: str = "seed42",
) -> str:
    """S15 verification sink (`scrc/analyses/coverage_verification.py:
    57-103`): a human-reviewable document per sampled decision with its
    sections delimited and the extracted judgment outcome highlighted.

    The reference renders python-docx with colored section highlights;
    here the renderer writes BOTH a real .docx (stdlib OOXML writer,
    `sources/ooxml.py` — headings per section, the judgment outcome as
    a bold highlighted run, matching the reference's colored markers)
    and the same structure as Markdown for diff-friendly review.
    Everything scale-relevant is identical: a DETERMINISTIC md5-keyed
    sample (same sample on any cluster size — ORDER BY RANDOM() is not
    reproducible across engines or partitionings), a semi-join so only
    the sampled decisions' sections are ever collected, and driver-side
    rendering of an n-row result only.

    Returns the Markdown output path (the .docx sits beside it).
    """
    import os

    from pyspark.sql import Window

    sections = tables["section"]
    judgments = tables["judgment"]

    picked = (
        sections.select("decision_id")
        .distinct()
        .orderBy(
            F.md5(F.concat(F.lit(seed_salt + ":"), F.col("decision_id"))),
            F.col("decision_id"),
        )
        .limit(n)
    )
    sampled = (
        sections.join(picked, "decision_id", "left_semi")
        .join(judgments, "decision_id", "left")
        .select("decision_id", "section", "section_text", "judgments")
        .collect()
    )

    by_doc: dict[str, list] = {}
    for r in sampled:
        by_doc.setdefault(r.decision_id, []).append(r)

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"verification_{n}.md")
    paragraphs: list[dict] = []
    with open(path, "w", encoding="utf-8") as f:
        for decision_id in sorted(by_doc):
            rows = by_doc[decision_id]
            outcomes = next(
                (r.judgments for r in rows if r.judgments), None
            ) or []
            f.write(f"# decision {decision_id}\n\n")
            f.write(f"**judgment outcome: {', '.join(outcomes) or '—'}**\n\n")
            paragraphs.append(
                {"text": f"decision {decision_id}", "style": "Heading1"}
            )
            paragraphs.append(
                {
                    "text": f"judgment outcome: {', '.join(outcomes) or '—'}",
                    "bold": True,
                    "highlight": "yellow",
                }
            )
            for r in sorted(rows, key=lambda r: r.section):
                f.write(f"## [{r.section}]\n\n{r.section_text}\n\n")
                paragraphs.append({"text": f"[{r.section}]", "style": "Heading2"})
                paragraphs.append({"text": r.section_text or ""})

    from swisscourtrulingcorpus_spark.sources.ooxml import write_docx

    write_docx(os.path.join(out_dir, f"verification_{n}.docx"), paragraphs)
    return path


def export_bar_chart_svg(
    report: DataFrame,
    x_col: str,
    y_col: str,
    path: str,
    title: str = "",
    max_bars: int = 50,
) -> str:
    """Report chart sink (`report_creator.py:126-240` draws matplotlib
    bar charts; matplotlib is absent here, so the chart renders as a
    self-contained SVG — pure python, no codec).  The report DataFrame
    is an already-aggregated small table (the reference's plots are
    per-attribute distributions), so the bounded ``limit(max_bars)``
    collect is the sanctioned driver-side step of a report sink.
    """
    from xml.sax.saxutils import escape

    rows = report.select(x_col, y_col).limit(max_bars).collect()
    labels = [str(r[0]) for r in rows]
    values = [float(r[1] or 0) for r in rows]
    w, h, pad, label_h = 640, 320, 40, 60
    plot_w, plot_h = w - 2 * pad, h - pad - label_h
    vmax = max(values, default=1.0) or 1.0
    n = max(len(values), 1)
    bar_w = plot_w / n * 0.8
    gap = plot_w / n * 0.2
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" height="{h}">',
        f'<text x="{w / 2}" y="20" text-anchor="middle" '
        f'font-family="sans-serif" font-size="14">{escape(title)}</text>',
        f'<line x1="{pad}" y1="{h - label_h}" x2="{w - pad}" y2="{h - label_h}" stroke="black"/>',
        f'<line x1="{pad}" y1="{pad}" x2="{pad}" y2="{h - label_h}" stroke="black"/>',
    ]
    for i, (label, v) in enumerate(zip(labels, values)):
        bh = plot_h * v / vmax
        x = pad + i * (bar_w + gap) + gap / 2
        y = h - label_h - bh
        parts.append(
            f'<rect x="{x:.1f}" y="{y:.1f}" width="{bar_w:.1f}" '
            f'height="{bh:.1f}" fill="steelblue"/>'
        )
        parts.append(
            f'<text x="{x + bar_w / 2:.1f}" y="{h - label_h + 14}" '
            f'text-anchor="middle" font-family="sans-serif" font-size="10">'
            f"{escape(label[:12])}</text>"
        )
        parts.append(
            f'<text x="{x + bar_w / 2:.1f}" y="{y - 4:.1f}" '
            f'text-anchor="middle" font-family="sans-serif" font-size="9">'
            f"{v:g}</text>"
        )
    parts.append("</svg>")
    with open(path, "w") as f:
        f.write("\n".join(parts))
    return path
