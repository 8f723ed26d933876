"""Extraction benchmark for pdfplumber_rs_spark; see run.py."""
