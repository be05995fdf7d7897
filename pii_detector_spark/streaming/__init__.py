"""Watermarked event metrics over the ``events`` table shape."""
