"""Column-level helpers: sanitize/number-format, the template
compiler, the HTML cleanup chain, and the markdown-lite converter."""
