"""Pure-Python reference codecs the tests cross-validate the runtime
against: the snappy and LZ4 block codecs, the RFC 8878 zstd decoder and
the byte-at-a-time CRC-32C. The runtime (``bravo_spark``) never imports
them; its block codecs are pyarrow's native snappy, lz4 and zstd."""
