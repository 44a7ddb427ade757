"""Reference-pipeline steps that no engine stage runs, kept with their tests.

Each module reproduces one step of the reference pipeline whose real
input needs a download the repository does not hold:

- ``html_table``: step 2, the EDGAR filing-index HTML tables;
- ``binary_docs``, ``pdf_mini``, ``pdf_crypt``: steps 2-3, the
  ``binaryFile`` PDF corpus and its first-pages slice with the
  empty-user-password decrypt path;
- ``sklearn_compat``: step 6, bit-compatible inference for the
  reference's joblib models;
- ``pdf_fixtures``: the encrypt-side builders of the PDF tests.

The engine (``x17a5_spark/``) starts from OCR'd cells, so none of this
is on a production path. A module moves back into the package only
together with an e1 stage that runs it and an oracle that checks it.

The PDF tests read ``tests/fixtures/libtasn1.pdf``, the GNU Libtasn1
manual as Debian's ``libtasn1-doc`` ships it, and
``libtasn1-aes128.pdf``, the same document flattened by
``pdf_mini._serialize`` and encrypted at V4/R4 AES-128 by
``tests/test_pdf_crypt._encrypt_pdf``.
"""
