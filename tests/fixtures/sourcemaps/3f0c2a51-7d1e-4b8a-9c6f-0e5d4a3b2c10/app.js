function a(){var s="//# sourceMappingURL=decoy.js.map";return s}function b(){throw new Error("x")}
//# sourceMappingURL=app.js.map
