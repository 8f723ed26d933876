"""Extraction options, mirroring the reference defaults exactly.

Parity notes (reference file:line):
- WordOptions defaults: crates/pdfplumber-core/src/words.rs:22-33
- TextOptions defaults: crates/pdfplumber-core/src/layout.rs:66-79
- TableSettings defaults: crates/pdfplumber-core/src/table.rs:75-99
- DedupeOptions: crates/pdfplumber-core/src/dedupe.rs:11-30
- ExtractOptions (budgets, normalization): crates/pdfplumber-core/src/error.rs:298-350
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class WordOptions:
    x_tolerance: float = 3.0
    y_tolerance: float = 3.0
    keep_blank_chars: bool = False
    use_text_flow: bool = False
    text_direction: str = "ltr"  # ltr | rtl | ttb | btt
    expand_ligatures: bool = True


@dataclass
class TextOptions:
    layout: bool = False
    y_tolerance: float = 3.0
    y_density: float = 10.0
    x_density: float = 10.0
    column_mode: str = "none"  # none | auto
    min_column_gap: float = 20.0
    max_columns: int = 6


@dataclass
class ExplicitLines:
    horizontal_lines: list[float] = field(default_factory=list)
    vertical_lines: list[float] = field(default_factory=list)


@dataclass
class TableSettings:
    strategy: str = "lattice"  # lattice | lattice_strict | stream | explicit
    snap_x_tolerance: float = 3.0
    snap_y_tolerance: float = 3.0
    join_x_tolerance: float = 3.0
    join_y_tolerance: float = 3.0
    edge_min_length: float = 3.0
    min_words_vertical: int = 3
    min_words_horizontal: int = 1
    intersection_x_tolerance: float = 3.0
    intersection_y_tolerance: float = 3.0
    explicit_lines: ExplicitLines | None = None
    min_accuracy: float | None = None
    duplicate_merged_content: bool = False


@dataclass
class DedupeOptions:
    """Drop near-duplicate chars (same text within tolerance of position)."""

    tolerance: float = 1.0
    extra_attrs: tuple[str, ...] = ("fontname", "size")


@dataclass
class ExtractOptions:
    """Document-level options; defaults match the reference."""

    # "nfc" | "nfd" | "nfkc" | "nfkd" | None — default NFC (error.rs:340)
    unicode_norm: str | None = "nfc"
    # dedupe on by default (error.rs:347)
    dedupe: DedupeOptions | None = field(default_factory=DedupeOptions)
    # resource budgets (error.rs:298-331); None = unlimited
    max_pages: int | None = None
    max_objects_per_page: int | None = 500_000
    max_input_bytes: int | None = 256 * 1024 * 1024
    # user/owner password (S3, pdf.rs:199-206); empty = auto-decrypt
    password: str | None = None
