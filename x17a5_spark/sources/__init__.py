"""Source connectors (SURVEY.md §2.1): the OCR stage over a binary
document corpus and the multimodal media decoders."""

from x17a5_spark.sources.ocr import OcrSource, StubOcrBackend

__all__ = ["OcrSource", "StubOcrBackend"]
