"""C8 — typed error surface.

The reference defines ``UnsupportedFileError`` / ``VisionParserError``
(``/root/reference/src/vision_parse/parser.py:29-38``), ``LLMError``
(``llm.py:26-31``) and ``ImageExtractionError`` (``utils.py:13-14``)
and raises them per document.  At 10^12-turn scale a raise is a job
killer, so the engine records failures in ``status``/``error`` columns
(error-as-data) — these exception types exist for the strict mode used
by tests and small interactive runs (``ExtractConfig(strict=True)``),
preserving the reference's error taxonomy.
"""


class VisionParseSparkError(Exception):
    """Base error (analog of VisionParserError, parser.py:33-38)."""


class UnsupportedPayloadError(VisionParseSparkError):
    """Payload is not extractable text (analog of
    UnsupportedFileError's suffix check, parser.py:29-31,157-161)."""


class EncryptedPayloadError(VisionParseSparkError):
    """PDF payload is password-locked beyond the empty-user-password
    standard handler (non-strict runs record status 'encrypted')."""


class ImageExtractionError(VisionParseSparkError):
    """Region detection failed (same name as utils.py:13-14)."""
